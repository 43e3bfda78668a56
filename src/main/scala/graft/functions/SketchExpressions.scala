package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd sketch kernels for the dedup pipeline (SURVEY §2.9 L2).
  *
  * Both take an `array<long>` of pre-hashed shingles/tokens (produced by
  * `TextFunctions.shingleHashes` — one cheap pass) and replace the O(n×64)
  * interpreted lambda traversals with tight primitive loops. Semantics are
  * bit-identical to the higher-order-function reference implementations in
  * TextFunctions (cross-checked in TextFunctionsSpec).
  *
  * Scale note: per-row expressions, fully pipelined — at 100 TB the
  * signature computation stays in the scan stage; only the 8-byte band
  * keys shuffle.
  */
object SketchKernels {
  final val Mersenne: Long = 2147483647L // 2^31 - 1

  def minhashA(j: Int): Long = (104731L * j + 1L) % Mersenne
  def minhashB(j: Int): Long = 7919L * (j + 1)
  private val as64: Array[Long] = Array.tabulate(64)(minhashA)
  private val bs64: Array[Long] = Array.tabulate(64)(minhashB)

  def minhash(hashes: ArrayData, numPerms: Int): GenericArrayData = {
    val n = hashes.numElements()
    val out = new Array[Long](numPerms)
    if (n == 0) return new GenericArrayData(out)
    // hoist the input normalization out of the perm loop (it is
    // perm-invariant; the naive nesting re-mods every hash 64×)
    val hm = new Array[Long](n)
    var i = 0
    while (i < n) {
      hm(i) = java.lang.Math.floorMod(hashes.getLong(i), Mersenne); i += 1
    }
    var j = 0
    while (j < numPerms) {
      val a = minhashA(j); val b = minhashB(j)
      var min = Long.MaxValue
      i = 0
      while (i < n) {
        val v = java.lang.Math.floorMod(hm(i) * a + b, Mersenne)
        if (v < min) min = v
        i += 1
      }
      out(j) = min
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Fused text → MinHash signature: hashes each char-k-window of the
    * UTF8 bytes IN PLACE (xxhash64 of the byte slice ≡ xxhash64 of the
    * substring — same bytes, same seed 42) and feeds the perm minima
    * directly, skipping the three per-doc materializations of the
    * composed pipeline (shingle UTF8Strings + dedup set + hash array).
    * Shingle dedup is dropped deliberately: a min over a multiset equals
    * the min over its set, so the signature is BIT-IDENTICAL to
    * `minhash(shingle_hashes(char_shingles(text, k)))` (parity-pinned in
    * TextFunctionsSpec). Window semantics mirror charShingles exactly:
    * max(numChars-k+1, 1) windows, the tail windows clamped, an empty
    * string contributing the hash of zero bytes. */
  def minhashTextSig(text: UTF8String, k: Int, numPerms: Int): GenericArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nBytes = text.numBytes()
    val nChars = text.numChars()
    // char-start byte offsets (UTF-8 is variable-width; windows are CHAR
    // windows, exactly like substringSQL in the composed pipeline)
    val offsets = new Array[Int](nChars + 1)
    var c = 0
    var b = 0
    while (c < nChars) {
      offsets(c) = b
      b += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + b))
      c += 1
    }
    offsets(nChars) = nBytes
    // perm parameters are row-invariant — the static 64-wide tables cover
    // the only numPerms in use (same pattern as rhpSigns above)
    val (as, bs) =
      if (numPerms == 64) (as64, bs64)
      else (Array.tabulate(numPerms)(minhashA), Array.tabulate(numPerms)(minhashB))
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val nWin = math.max(nChars - (k - 1), 1)
    var w = 0
    while (w < nWin) {
      val endC = math.min(w + k, nChars)
      val bo = offsets(w)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + bo, offsets(endC) - bo, 42L)
      val hm = java.lang.Math.floorMod(h, Mersenne)
      var j = 0
      while (j < numPerms) {
        val v = java.lang.Math.floorMod(hm * as(j) + bs(j), Mersenne)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  /** Fused text → 48-bit SimHash: tokenizes on the literal space byte
    * (0x20 — exactly `split(text, " ")` + drop-empties, and a space byte
    * can never occur inside a UTF-8 multibyte sequence), hashes each
    * token slice in place (xxhash64 of the bytes ≡ xxhash64 of the
    * substring, seed 42) and accumulates the bit votes directly —
    * bit-identical to `simhash48(shingle_hashes(word_tokens(text)))`
    * (parity-pinned in TextFunctionsSpec) without materializing the
    * token array or the hash array. Note other whitespace (\n, \t)
    * stays INSIDE tokens, exactly like the composed form. */
  def simhash48Text(text: UTF8String): Long = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nBytes = text.numBytes()
    val cnt = new Array[Int](48)
    var i = 0
    while (i < nBytes) {
      while (i < nBytes &&
        org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) i += 1
      var j = i
      while (j < nBytes &&
        org.apache.spark.unsafe.Platform.getByte(base, off + j) != 0x20) j += 1
      if (j > i) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(base, off + i, j - i, 42L)
        var bit = 0
        while (bit < 48) {
          if (((h >>> bit) & 1L) == 1L) cnt(bit) += 1 else cnt(bit) -= 1
          bit += 1
        }
      }
      i = j
    }
    var value = 0L
    var bit = 0
    while (bit < 48) {
      if (cnt(bit) > 0) value |= (1L << bit)
      bit += 1
    }
    value
  }

  /** splitmix64 finalizer — deterministic pseudo-random bits from an index. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rademacher ±1 hyperplane components for random-hyperplane LSH
    * (Charikar, STOC 2002): sign(bit, j) is a pure function of the
    * indices, so every executor derives the identical hyperplanes with no
    * broadcast state. Pre-tabulated for dims ≤ 256 (covers the 64-dim
    * embeddings with headroom); larger dims fall back to the mix. */
  private val RhpTableDims = 256
  private val rhpSigns: Array[Double] = Array.tabulate(64 * RhpTableDims) { i =>
    if ((mix64((i / RhpTableDims).toLong * 8191L + (i % RhpTableDims)) & 1L) == 0L) 1.0 else -1.0
  }

  /** 64-bit random-hyperplane signature of a float vector: bit b =
    * sign(v · h_b) with Rademacher h_b. P[bit agrees] = 1 − θ/π for
    * vectors at angle θ, which LSH banding turns into a cosine
    * candidate filter. */
  def rhpSig64(vec: ArrayData): Long = {
    val n = vec.numElements()
    var sig = 0L
    var bit = 0
    while (bit < 64) {
      var dot = 0.0
      var j = 0
      if (n <= RhpTableDims) {
        val base = bit * RhpTableDims
        while (j < n) { dot += vec.getFloat(j) * rhpSigns(base + j); j += 1 }
      } else {
        while (j < n) {
          dot += vec.getFloat(j) *
            (if ((mix64(bit.toLong * 8191L + j) & 1L) == 0L) 1.0 else -1.0)
          j += 1
        }
      }
      if (dot > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  /** Count of positions where two long arrays agree — the MinHash
    * signature-similarity numerator. Bit-identical to the HOF form
    * `size(filter(zip_with(a, b, (x, y) -> x = y), m -> m))` for
    * equal-length null-free arrays (every signature here is exactly
    * numPerms longs): zip_with pads the shorter side with nulls whose
    * comparison yields null and is dropped by the filter, hence the
    * min-length loop. The HOF form evaluates its lambdas interpreted
    * per element with boxing (~0.6 s per 20k-pair stage measured on
    * l2, r17); this is one primitive loop in the codegen stage. */
  def matchCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  def simhash48(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    // elements outer so each hash is fetched once (bits-outer re-read
    // every element 48×); per-bit counters accumulate ±1 votes
    val cnt = new Array[Int](48)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var bit = 0
      while (bit < 48) {
        if (((h >>> bit) & 1L) == 1L) cnt(bit) += 1 else cnt(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var value = 0L
    var bit = 0
    while (bit < 48) {
      if (cnt(bit) > 0) value |= (1L << bit)
      bit += 1
    }
    value
  }
}
