package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Trino's `to_base32` / `from_base32` (r16 probe sweep 7) — RFC 4648
  * base32: the A–Z 2–7 alphabet, 5 bytes per 8-character block, '='
  * padding to the block boundary. Encoding always emits the padded
  * uppercase form (RFC test vectors: "f" → "MY======", "foo" →
  * "MZXW6==="); decoding accepts the padded form AND the unpadded
  * truncation ("MZXW6" — Trino's Guava-backed decoder takes both,
  * r16 advice), but padding, when present, must complete the final
  * block exactly; lowercase or a non-alphabet byte fails LOUDLY
  * (Trino rejects them too, and silently mapping case would
  * fabricate a laxness the published function does not have).
  */
object Base32Core {
  private val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
  private val decode = {
    val d = Array.fill[Byte](128)(-1)
    var i = 0
    while (i < alphabet.length) { d(alphabet.charAt(i)) = i.toByte; i += 1 }
    d
  }
  // valid data-character counts in a final (possibly partial) block —
  // 1/3/6 data chars cannot arise from whole input bytes
  private val tailBytes = Array(0, -1, 1, -1, 2, 3, -1, 4)

  def encode(b: Array[Byte]): UTF8String = {
    val blocks = (b.length + 4) / 5
    val out = new Array[Byte](blocks * 8)
    var i = 0
    var o = 0
    while (i < b.length) {
      var acc = 0L
      var n = 0
      while (n < 5) {
        acc = (acc << 8) | (if (i + n < b.length) b(i + n) & 0xffL else 0L)
        n += 1
      }
      val dataChars = (math.min(b.length - i, 5) * 8 + 4) / 5
      var k = 0
      while (k < 8) {
        out(o + k) =
          if (k < dataChars)
            alphabet.charAt(((acc >>> (35 - 5 * k)) & 0x1f).toInt).toByte
          else '='.toByte
        k += 1
      }
      i += 5
      o += 8
    }
    UTF8String.fromBytes(out)
  }

  def decodeB32(s: UTF8String): Array[Byte] = {
    val in = s.getBytes
    if (in.length == 0) return Array.emptyByteArray
    // locate padding: only the final block may carry '='
    var dataLen = in.length
    while (dataLen > 0 && in(dataLen - 1) == '=') dataLen -= 1
    val pad = in.length - dataLen
    require(pad < 8 && dataLen > 0, "from_base32: all-padding block")
    // padding is optional (unpadded "MZXW6" decodes), but if present
    // it must complete the final 8-char block exactly
    require(pad == 0 || in.length % 8 == 0,
      s"from_base32: padding does not complete the final block " +
        s"($dataLen data + $pad '=' characters)")
    val tailChars = if (dataLen % 8 == 0) 8 else dataLen % 8
    val tb = if (tailChars == 8) 5 else tailBytes(tailChars)
    require(tb >= 0, s"from_base32: invalid final block of " +
      s"$tailChars data characters")
    val outLen = (dataLen / 8) * 5 + (if (tailChars == 8) 0 else tb)
    val out = new Array[Byte](outLen)
    var i = 0
    var o = 0
    while (i < dataLen) {
      var acc = 0L
      var k = 0
      val chars = math.min(8, dataLen - i)
      while (k < 8) {
        val c = if (k < chars) in(i + k) else 'A'.toByte
        require(c >= 0 && c < 128 && decode(c) >= 0,
          s"from_base32: invalid base32 character '${c.toChar}'")
        acc = (acc << 5) | decode(c)
        k += 1
      }
      val bytes = if (chars == 8) 5 else tailBytes(chars)
      var m = 0
      while (m < bytes && o < outLen) {
        out(o) = ((acc >>> (32 - 8 * m)) & 0xff).toByte
        o += 1
        m += 1
      }
      i += 8
    }
    out
  }
}
