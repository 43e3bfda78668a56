package graft.functions

/** Fowler–Noll–Vo hashes (the public-domain FNV spec; Trino's
  * fnv1_32 / fnv1a_32 / fnv1_64 / fnv1a_64 over VARBINARY). FNV-1
  * multiplies then XORs per byte; FNV-1a XORs then multiplies. Wrapping
  * arithmetic is the spec (compiled Scala wraps natively — this cannot
  * be a SQL-function body, where ANSI-mode multiplication overflow
  * throws). 32-bit results are zero-extended to BIGINT (the unsigned
  * 32-bit value); 64-bit results are the raw signed long, matching
  * Trino's BIGINT rendering.
  */
object FnvKernels {
  private val O32 = 0x811c9dc5 // 2166136261
  private val P32 = 0x01000193 // 16777619
  private val O64 = 0xcbf29ce484222325L
  private val P64 = 0x100000001b3L

  def fnv32(bytes: Array[Byte], fnv1a: Boolean): Long = {
    var h = O32
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (fnv1a) { h ^= b; h *= P32 } else { h *= P32; h ^= b }
      i += 1
    }
    h.toLong & 0xffffffffL
  }

  def fnv64(bytes: Array[Byte], fnv1a: Boolean): Long = {
    var h = O64
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (fnv1a) { h ^= b; h *= P64 } else { h *= P64; h ^= b }
      i += 1
    }
    h
  }
}

/** Trino to_ieee754_32/64 and from_ieee754_32/64: IEEE-754 bit patterns
  * as big-endian VARBINARY (the network/interchange encoding; Java's
  * doubleToLongBits/floatToIntBits ARE the IEEE bits, with NaN
  * canonicalized exactly as Trino's Double.doubleToLongBits does). */
object IeeeKernels {
  def to64(v: Double): Array[Byte] =
    java.nio.ByteBuffer.allocate(8)
      .putLong(java.lang.Double.doubleToLongBits(v)).array()

  def from64(b: Array[Byte]): Double = {
    require(b.length == 8,
      s"from_ieee754_64 expects exactly 8 bytes, got ${b.length}")
    java.lang.Double.longBitsToDouble(java.nio.ByteBuffer.wrap(b).getLong)
  }

  def to32(v: Float): Array[Byte] =
    java.nio.ByteBuffer.allocate(4)
      .putInt(java.lang.Float.floatToIntBits(v)).array()

  def from32(b: Array[Byte]): Float = {
    require(b.length == 4,
      s"from_ieee754_32 expects exactly 4 bytes, got ${b.length}")
    java.lang.Float.intBitsToFloat(java.nio.ByteBuffer.wrap(b).getInt)
  }
}
