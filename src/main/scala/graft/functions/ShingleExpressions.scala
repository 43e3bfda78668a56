package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native shingle kernels (SURVEY §2.9 L2 hot path).
  *
  * Outputs are element-for-element identical to the higher-order
  * reference implementations in TextFunctions (parity-tested):
  * - charShingles: `substring(text, i, k)` uses UTF8String.substringSQL —
  *   the exact semantics of the Substring expression the HOF version
  *   evaluates — and first-occurrence dedup like array_distinct.
  * - wordShingles: space-joined n-grams over a token array, same
  *   first-occurrence dedup.
  */
object ShingleKernels {

  def charShingles(text: UTF8String, k: Int): GenericArrayData = {
    val n = math.max(text.numChars() - (k - 1), 1)
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    var i = 1
    while (i <= n) {
      seen.add(text.substringSQL(i, k))
      i += 1
    }
    new GenericArrayData(seen.toArray)
  }

  private val Space = UTF8String.fromString(" ")

  def wordShingles(tokens: ArrayData, n: Int): GenericArrayData = {
    val total = tokens.numElements()
    val count = math.max(total - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    var i = 0
    while (i < count) {
      // element_at(tokens, i+j) in the HOF version yields null past the
      // end only when count was clamped to 1; concat_ws skips nulls.
      val parts = new Array[UTF8String](n)
      var j = 0
      var m = 0
      while (j < n) {
        if (i + j < total) { parts(m) = tokens.getUTF8String(i + j); m += 1 }
        j += 1
      }
      seen.add(UTF8String.concatWs(Space, java.util.Arrays.copyOf(parts, m): _*))
      i += 1
    }
    new GenericArrayData(seen.toArray)
  }

  /** Space-split word tokens, empties dropped — bit-identical to the HOF
    * reference `filter(split(text, " "), t -> length(t) > 0)`
    * (TextFunctions.wordTokensRef; parity property-pinned in
    * TextFunctionsSpec): `split` on the single-space pattern cuts ONLY on
    * 0x20 bytes, and a space byte can never occur inside a UTF-8
    * multibyte sequence (the simhash48Text argument), so maximal non-space
    * byte runs ARE the surviving tokens. The HOF form evaluates the filter
    * lambda interpreted per token with boxing — measured as the dominant
    * scan-stage cost of every tokenizing query; this is one primitive byte
    * scan in the codegen stage. Tokens are sliced over one stable byte
    * copy (getBytes), never over the scan's reused row buffer. */
  def wordTokens(text: UTF8String): GenericArrayData = {
    val b = text.getBytes
    val n = b.length
    val words = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      while (i < n && b(i) == 0x20) i += 1
      var j = i
      while (j < n && b(j) != 0x20) j += 1
      if (j > i) words.add(UTF8String.fromBytes(b, i, j - i))
      i = j
    }
    new GenericArrayData(words.toArray(new Array[AnyRef](words.size)))
  }

  /** Polynomial (base 31, mod 2⁵²) hash of every k-word gram of `words` —
    * bit-identical to the HOF reference (TextFunctions.kgramHashesRef;
    * parity property-pinned in TextFunctionsSpec):
    * `transform(sequence(1, max(n-k+1, 1)), i -> aggregate(
    *    split(array_join(slice(words, i, k), " "), ""), 0L,
    *    (acc, c) -> (acc*31 + ascii(c)) % 2^52))`.
    * Equivalence notes: Spark's `split(g, "")` keeps a surrogate pair
    * whole and `ascii` returns `codePointAt(0)`, so the fold is over CODE
    * POINTS (as is the DuckDB oracle's str_split + ascii): the loop steps
    * by `Character.charCount` (a lone surrogate is one unit, folded as
    * its own value, like `codePointAt` returns it); `array_join`
    * skips null elements and separates kept ones with single spaces
    * (guarded below, though wordTokens never yields nulls); an empty gram
    * folds over `[""]` whose ascii is 0, i.e. stays 0 — the empty loop's
    * value. acc < 2⁵², ×31 + code point < 2⁵⁷: no overflow, and `%` on
    * non-negative operands matches Spark's Remainder. */
  def kgramHashes(words: ArrayData, k: Int): GenericArrayData = {
    val M = 4503599627370496L
    val total = words.numElements()
    val nGrams = math.max(total - (k - 1), 1)
    // decode each token to UTF-16 once per ROW (the HOF form re-splits
    // per gram: same values, k× the decode work)
    val toks = new Array[String](total)
    var t = 0
    while (t < total) {
      toks(t) =
        if (words.isNullAt(t)) null else words.getUTF8String(t).toString
      t += 1
    }
    val out = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var acc = 0L
      var first = true
      var j = i
      val end = math.min(i + k, total)
      while (j < end) {
        val s = toks(j)
        if (s != null) {
          if (!first) acc = (acc * 31L + 32L) % M // the joining space
          var c = 0
          while (c < s.length) {
            val cp = s.codePointAt(c)
            acc = (acc * 31L + cp) % M
            c += Character.charCount(cp)
          }
          first = false
        }
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Karp–Rabin rolling hashes of every k-codepoint window of `text`:
    * out(i) = polynomial hash (base 1000003, natural 2^64 wrap) of code
    * points [i, i+k) — O(1) per position after the first window, where
    * hashing each substring separately costs O(k) per position (an
    * ~8× kernel cut at k = 50, the l65 phase-1 key). Identical grams
    * hash identically by construction; a collision only costs confirm
    * work downstream (phase 2 compares exact strings), never
    * correctness. Position i here is 0-based over CODE POINTS, matching
    * substring(text, i+1, k)'s character semantics. */
  def gramHashes(text: UTF8String, k: Int): GenericArrayData = {
    require(k >= 1, s"gram_hashes: k must be >= 1, got $k")
    val cps = text.toString.codePoints().toArray
    val n = cps.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val B = 1000003L
    var bk = 1L
    var i = 0
    while (i < k - 1) { bk *= B; i += 1 }
    val out = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + cps(i); i += 1 }
    out(0) = h
    i = 1
    while (i < n) {
      h = (h - cps(i - 1) * bk) * B + cps(i + k - 1)
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}
