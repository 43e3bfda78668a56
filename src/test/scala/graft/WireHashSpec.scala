package graft

import graft.functions.WireHashCore

/** The r17 wire-hash closure (r16 verdict missing #2): murmur3_x64_128
  * cross-checked against Guava's independent Murmur3_128 implementation
  * (same published algorithm, same seed 0, present on the Spark test
  * classpath) on every length class; SpookyHash V2 pinned to the
  * published engine test vectors for 'hello' plus structural laws
  * (32 = low word of 64, short/long path boundary at 192 bytes,
  * avalanche sanity).
  */
class WireHashSpec extends SparkSpec {

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  test("murmur3_x64_128 matches Guava Murmur3_128 on all length classes") {
    val rnd = new scala.util.Random(20260817)
    val guava = com.google.common.hash.Hashing.murmur3_128()
    // every tail case 0..15, both sides of the 16-byte block boundary,
    // plus multi-block inputs
    val lengths = (0 to 48) ++ Seq(63, 64, 100, 255, 1024)
    for (len <- lengths; _ <- 1 to 3) {
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      val ours = hex(WireHashCore.murmur3x64128(b))
      // Guava renders LE(h1)||LE(h2); the engine (and we) render each
      // half big-endian — reverse each 8-byte half to compare
      val g = guava.hashBytes(b).asBytes()
      val theirs = hex(g.take(8).reverse ++ g.drop(8).reverse)
      assert(ours == theirs, s"len=$len ours=$ours guava=$theirs")
    }
  }

  test("murmur3_x64_128 reference digest pins") {
    // the engine's published BE(h1)||BE(h2) digest of 'hello' (seed 0)
    assert(hex(WireHashCore.murmur3x64128(
      "hello".getBytes("UTF-8"))) == "cbd8a7b341bd9b025b1e906a48ae1d19")
    // empty input: h1=h2=0 through finalization of len 0 → all zero
    assert(hex(WireHashCore.murmur3x64128(Array.emptyByteArray)) ==
      "00000000000000000000000000000000")
  }

  test("spooky_hash_v2 published vector pins + structural laws") {
    // the published engine test vectors: spooky_hash_v2_64('hello') =
    // 3768826AD382E6CA (big-endian), spooky_hash_v2_32 its low word
    val hello = "hello".getBytes("UTF-8")
    assert(hex(WireHashCore.spooky64(hello)) == "3768826ad382e6ca",
      hex(WireHashCore.spooky64(hello)))
    assert(hex(WireHashCore.spooky32(hello)) == "d382e6ca")
    // law: hash32 is the low 32 bits of hash64, at every length class
    val rnd = new scala.util.Random(42)
    for (len <- (0 to 40) ++ Seq(95, 96, 127, 190, 191, 192, 193, 288, 500)) {
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      val h64 = WireHashCore.spooky64(b)
      val h32 = WireHashCore.spooky32(b)
      assert(h64.drop(4).sameElements(h32), s"len=$len")
      // determinism
      assert(WireHashCore.spooky64(b).sameElements(h64))
    }
    // the short/long cutover (192 bytes) must not collide trivially:
    // prefix-extension changes the hash on both sides of the boundary
    val base = Array.tabulate[Byte](300)(i => (i * 31 + 7).toByte)
    val hashes = (188 to 196).map(n => hex(WireHashCore.spooky64(base.take(n))))
    assert(hashes.distinct.size == hashes.size, hashes.mkString(","))
    // avalanche sanity: flipping one bit flips ~half the output bits
    val a = base.take(64)
    val b2 = a.clone(); b2(10) = (b2(10) ^ 1).toByte
    val (x1, _) = WireHashCore.spookyHash128(a, 0L, 0L)
    val (x2, _) = WireHashCore.spookyHash128(b2, 0L, 0L)
    val flipped = java.lang.Long.bitCount(x1 ^ x2)
    assert(flipped >= 16 && flipped <= 48, s"flipped=$flipped")
  }

  test("SQL surface: registered expressions evaluate in codegen and agree") {
    val r = spark.sql(
      """SELECT
        |  hex(murmur3_x64_128(encode('hello', 'UTF-8'))) AS m,
        |  hex(murmur3(encode('hello', 'UTF-8'))) AS mt,
        |  hex(spooky_hash_v2_64(encode('hello', 'UTF-8'))) AS s64,
        |  hex(spooky_hash_v2_32(encode('hello', 'UTF-8'))) AS s32,
        |  murmur3_x64_128(CAST(NULL AS BINARY)) AS mnull
        |""".stripMargin).head()
    assert(r.getString(0) == "CBD8A7B341BD9B025B1E906A48AE1D19")
    assert(r.getString(1) == r.getString(0))
    assert(r.getString(2) == "3768826AD382E6CA")
    assert(r.getString(3) == "D382E6CA")
    assert(r.isNullAt(4))
  }
}
