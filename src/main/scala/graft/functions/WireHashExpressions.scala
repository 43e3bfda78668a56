package graft.functions

/** The two documented wire-hash scope-outs from the probed digest page,
  * closed in r17 as native codegen expressions (the Base32 pattern):
  *
  *  - `murmur3_x64_128(varbinary)` → 16 bytes — Austin Appleby's
  *    public-domain MurmurHash3 x64 128-bit variant, seed 0, rendered
  *    BE(h1) || BE(h2) (the engine's published 'hello' vector
  *    cbd8a7b341bd9b025b1e906a48ae1d19; Guava/mmh3 render the same
  *    two words little-endian — same hash, different byte order,
  *    both pinned). Guava's Murmur3_128 — an independent
  *    implementation of the same published algorithm — is the
  *    property-test oracle (WireHashSpec cross-checks random inputs
  *    on every length class, reversing each 8-byte half).
  *
  *  - `spooky_hash_v2_64(varbinary)` → 8 bytes and
  *    `spooky_hash_v2_32(varbinary)` → 4 bytes — Bob Jenkins'
  *    public-domain SpookyHash V2 (seed 0): hash64 is h1 of the
  *    128-bit result, hash32 its low 32 bits, both rendered
  *    BIG-endian (the published engine behavior: Ints/Longs
  *    .toByteArray rendering — 'hello' → D382E6CA / 3768826AD382E6CA,
  *    value-pinned in WireHashSpec together with the 32=low-word-of-64
  *    law and short/long-path boundary determinism at 191/192 bytes).
  *
  * Both kernels are allocation-free single passes over the input and
  * evaluate inside whole-stage codegen via static calls — scan-stage
  * per-row CPU, no shuffle implications at any scale.
  */
object WireHashCore {

  @inline private def rotl(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)

  @inline private def getLongLE(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)

  @inline private def getIntLE(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24)

  // ---- MurmurHash3 x64 128 (public domain reference, seed 0) ----------

  private final val MC1 = 0x87c37b91114253d5L
  private final val MC2 = 0x4cf5ad432745937fL

  @inline private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  def murmur3x64128(b: Array[Byte]): Array[Byte] = {
    val len = b.length
    val nblocks = len / 16
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < nblocks) {
      var k1 = getLongLE(b, i * 16)
      var k2 = getLongLE(b, i * 16 + 8)
      k1 *= MC1; k1 = rotl(k1, 31); k1 *= MC2; h1 ^= k1
      h1 = rotl(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= MC2; k2 = rotl(k2, 33); k2 *= MC1; h2 ^= k2
      h2 = rotl(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    val t = nblocks * 16
    var k1 = 0L
    var k2 = 0L
    val rem = len & 15
    // the reference tail switch with fall-through, written as guards
    if (rem >= 15) k2 ^= (b(t + 14) & 0xffL) << 48
    if (rem >= 14) k2 ^= (b(t + 13) & 0xffL) << 40
    if (rem >= 13) k2 ^= (b(t + 12) & 0xffL) << 32
    if (rem >= 12) k2 ^= (b(t + 11) & 0xffL) << 24
    if (rem >= 11) k2 ^= (b(t + 10) & 0xffL) << 16
    if (rem >= 10) k2 ^= (b(t + 9) & 0xffL) << 8
    if (rem >= 9) {
      k2 ^= b(t + 8) & 0xffL
      k2 *= MC2; k2 = rotl(k2, 33); k2 *= MC1; h2 ^= k2
    }
    if (rem >= 8) k1 ^= (b(t + 7) & 0xffL) << 56
    if (rem >= 7) k1 ^= (b(t + 6) & 0xffL) << 48
    if (rem >= 6) k1 ^= (b(t + 5) & 0xffL) << 40
    if (rem >= 5) k1 ^= (b(t + 4) & 0xffL) << 32
    if (rem >= 4) k1 ^= (b(t + 3) & 0xffL) << 24
    if (rem >= 3) k1 ^= (b(t + 2) & 0xffL) << 16
    if (rem >= 2) k1 ^= (b(t + 1) & 0xffL) << 8
    if (rem >= 1) {
      k1 ^= b(t) & 0xffL
      k1 *= MC1; k1 = rotl(k1, 31); k1 *= MC2; h1 ^= k1
    }
    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    // BE(h1) || BE(h2): the engine's page-wide big-endian rendering
    // (its published 'hello' vector cbd8…1d19 is the byte-reverse of
    // each half of the little-endian digest Guava/mmh3 emit — the
    // (h1, h2) words themselves agree, WireHashSpec pins both facts)
    val out = new Array[Byte](16)
    var j = 0
    while (j < 8) {
      out(j) = ((h1 >>> (56 - 8 * j)) & 0xff).toByte
      out(8 + j) = ((h2 >>> (56 - 8 * j)) & 0xff).toByte
      j += 1
    }
    out
  }

  // ---- SpookyHash V2 (public domain reference, seeds 0/0) -------------

  private final val SC = 0xdeadbeefdeadbeefL
  private final val NumVars = 12
  private final val BlockSize = NumVars * 8 // 96
  private final val BufSize = 2 * BlockSize // 192: the short/long cutover

  /** 128-bit SpookyHash V2; returns (h1, h2). */
  def spookyHash128(b: Array[Byte], seed1: Long, seed2: Long): (Long, Long) = {
    if (b.length < BufSize) return spookyShort(b, seed1, seed2)
    val len = b.length
    val h = new Array[Long](NumVars)
    h(0) = seed1; h(3) = seed1; h(6) = seed1; h(9) = seed1
    h(1) = seed2; h(4) = seed2; h(7) = seed2; h(10) = seed2
    h(2) = SC; h(5) = SC; h(8) = SC; h(11) = SC
    val nblocks = len / BlockSize
    var i = 0
    while (i < nblocks) {
      spookyMix(b, i * BlockSize, h)
      i += 1
    }
    // pad the remainder to a whole block, last byte = remainder length
    val remainder = len - nblocks * BlockSize
    val buf = new Array[Byte](BlockSize)
    System.arraycopy(b, nblocks * BlockSize, buf, 0, remainder)
    buf(BlockSize - 1) = remainder.toByte
    // End: add the block, then three EndPartial rounds
    var k = 0
    while (k < NumVars) { h(k) += getLongLE(buf, k * 8); k += 1 }
    spookyEndPartial(h); spookyEndPartial(h); spookyEndPartial(h)
    (h(0), h(1))
  }

  private def spookyMix(b: Array[Byte], off: Int, h: Array[Long]): Unit = {
    h(0) += getLongLE(b, off);        h(2) ^= h(10); h(11) ^= h(0);  h(0) = rotl(h(0), 11);   h(11) += h(1)
    h(1) += getLongLE(b, off + 8);    h(3) ^= h(11); h(0) ^= h(1);   h(1) = rotl(h(1), 32);   h(0) += h(2)
    h(2) += getLongLE(b, off + 16);   h(4) ^= h(0);  h(1) ^= h(2);   h(2) = rotl(h(2), 43);   h(1) += h(3)
    h(3) += getLongLE(b, off + 24);   h(5) ^= h(1);  h(2) ^= h(3);   h(3) = rotl(h(3), 31);   h(2) += h(4)
    h(4) += getLongLE(b, off + 32);   h(6) ^= h(2);  h(3) ^= h(4);   h(4) = rotl(h(4), 17);   h(3) += h(5)
    h(5) += getLongLE(b, off + 40);   h(7) ^= h(3);  h(4) ^= h(5);   h(5) = rotl(h(5), 28);   h(4) += h(6)
    h(6) += getLongLE(b, off + 48);   h(8) ^= h(4);  h(5) ^= h(6);   h(6) = rotl(h(6), 39);   h(5) += h(7)
    h(7) += getLongLE(b, off + 56);   h(9) ^= h(5);  h(6) ^= h(7);   h(7) = rotl(h(7), 57);   h(6) += h(8)
    h(8) += getLongLE(b, off + 64);   h(10) ^= h(6); h(7) ^= h(8);   h(8) = rotl(h(8), 55);   h(7) += h(9)
    h(9) += getLongLE(b, off + 72);   h(11) ^= h(7); h(8) ^= h(9);   h(9) = rotl(h(9), 54);   h(8) += h(10)
    h(10) += getLongLE(b, off + 80);  h(0) ^= h(8);  h(9) ^= h(10);  h(10) = rotl(h(10), 22); h(9) += h(11)
    h(11) += getLongLE(b, off + 88);  h(1) ^= h(9);  h(10) ^= h(11); h(11) = rotl(h(11), 46); h(10) += h(0)
  }

  private def spookyEndPartial(h: Array[Long]): Unit = {
    h(11) += h(1); h(2) ^= h(11); h(1) = rotl(h(1), 44)
    h(0) += h(2);  h(3) ^= h(0);  h(2) = rotl(h(2), 15)
    h(1) += h(3);  h(4) ^= h(1);  h(3) = rotl(h(3), 34)
    h(2) += h(4);  h(5) ^= h(2);  h(4) = rotl(h(4), 21)
    h(3) += h(5);  h(6) ^= h(3);  h(5) = rotl(h(5), 38)
    h(4) += h(6);  h(7) ^= h(4);  h(6) = rotl(h(6), 33)
    h(5) += h(7);  h(8) ^= h(5);  h(7) = rotl(h(7), 10)
    h(6) += h(8);  h(9) ^= h(6);  h(8) = rotl(h(8), 13)
    h(7) += h(9);  h(10) ^= h(7); h(9) = rotl(h(9), 38)
    h(8) += h(10); h(11) ^= h(8); h(10) = rotl(h(10), 53)
    h(9) += h(11); h(0) ^= h(9);  h(11) = rotl(h(11), 42)
    h(10) += h(0); h(1) ^= h(10); h(0) = rotl(h(0), 54)
  }

  /** The < 192-byte short-message form (4-variable state). */
  private def spookyShort(b: Array[Byte], seed1: Long, seed2: Long): (Long, Long) = {
    val len = b.length
    var remainder = len % 32
    var a = seed1
    var bb = seed2
    var c = SC
    var d = SC
    var off = 0
    if (len > 15) {
      val n32 = len / 32
      var i = 0
      while (i < n32) {
        c += getLongLE(b, off); d += getLongLE(b, off + 8)
        val m = shortMix(a, bb, c, d); a = m._1; bb = m._2; c = m._3; d = m._4
        a += getLongLE(b, off + 16); bb += getLongLE(b, off + 24)
        off += 32
        i += 1
      }
      if (remainder >= 16) {
        c += getLongLE(b, off); d += getLongLE(b, off + 8)
        val m = shortMix(a, bb, c, d); a = m._1; bb = m._2; c = m._3; d = m._4
        off += 16
        remainder -= 16
      }
    }
    d += len.toLong << 56
    // the reference remainder switch: fall-through chains terminate in
    // WORD loads (cases 15-13 → case 12's p32[2]+p64[0]; 11-9 → case
    // 8's p64[0]; 7-5 → case 4's p32[0]), so each range adds its high
    // stray bytes THEN the full low word
    if (remainder >= 12) {
      if (remainder >= 15) d += (b(off + 14) & 0xffL) << 48
      if (remainder >= 14) d += (b(off + 13) & 0xffL) << 40
      if (remainder >= 13) d += (b(off + 12) & 0xffL) << 32
      d += getIntLE(b, off + 8)
      c += getLongLE(b, off)
    } else if (remainder >= 8) {
      if (remainder >= 11) d += (b(off + 10) & 0xffL) << 16
      if (remainder >= 10) d += (b(off + 9) & 0xffL) << 8
      if (remainder >= 9) d += b(off + 8) & 0xffL
      c += getLongLE(b, off)
    } else if (remainder >= 4) {
      if (remainder >= 7) c += (b(off + 6) & 0xffL) << 48
      if (remainder >= 6) c += (b(off + 5) & 0xffL) << 40
      if (remainder >= 5) c += (b(off + 4) & 0xffL) << 32
      c += getIntLE(b, off)
    } else if (remainder >= 1) {
      if (remainder >= 3) c += (b(off + 2) & 0xffL) << 16
      if (remainder >= 2) c += (b(off + 1) & 0xffL) << 8
      c += b(off) & 0xffL
    } else { c += SC; d += SC }
    shortEnd(a, bb, c, d)
  }

  @inline private def shortMix(a0: Long, b0: Long, c0: Long, d0: Long)
      : (Long, Long, Long, Long) = {
    var a = a0; var b = b0; var c = c0; var d = d0
    c = rotl(c, 50); c += d; a ^= c
    d = rotl(d, 52); d += a; b ^= d
    a = rotl(a, 30); a += b; c ^= a
    b = rotl(b, 41); b += c; d ^= b
    c = rotl(c, 54); c += d; a ^= c
    d = rotl(d, 48); d += a; b ^= d
    a = rotl(a, 38); a += b; c ^= a
    b = rotl(b, 37); b += c; d ^= b
    c = rotl(c, 62); c += d; a ^= c
    d = rotl(d, 34); d += a; b ^= d
    a = rotl(a, 5);  a += b; c ^= a
    b = rotl(b, 36); b += c; d ^= b
    (a, b, c, d)
  }

  @inline private def shortEnd(a0: Long, b0: Long, c0: Long, d0: Long)
      : (Long, Long) = {
    var a = a0; var b = b0; var c = c0; var d = d0
    d ^= c; c = rotl(c, 15); d += c
    a ^= d; d = rotl(d, 52); a += d
    b ^= a; a = rotl(a, 26); b += a
    c ^= b; b = rotl(b, 51); c += b
    d ^= c; c = rotl(c, 28); d += c
    a ^= d; d = rotl(d, 9);  a += d
    b ^= a; a = rotl(a, 47); b += a
    c ^= b; b = rotl(b, 54); c += b
    d ^= c; c = rotl(c, 32); d += c
    a ^= d; d = rotl(d, 25); a += d
    b ^= a; a = rotl(a, 63); b += a
    (a, b)
  }

  def spooky64(b: Array[Byte]): Array[Byte] = {
    val h = spookyHash128(b, 0L, 0L)._1
    // BIG-endian rendering: the engine's Longs.toByteArray form
    val out = new Array[Byte](8)
    var j = 0
    while (j < 8) { out(j) = ((h >>> (56 - 8 * j)) & 0xff).toByte; j += 1 }
    out
  }

  def spooky32(b: Array[Byte]): Array[Byte] = {
    val h = spookyHash128(b, 0L, 0L)._1.toInt
    val out = new Array[Byte](4)
    var j = 0
    while (j < 4) { out(j) = ((h >>> (24 - 8 * j)) & 0xff).toByte; j += 1 }
    out
  }
}
