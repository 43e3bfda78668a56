package graft

import graft.functions.AhoCorasick
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** l36's Aho-Corasick kernel: parity with naive per-pattern scanning on
  * adversarial and random inputs, the dictionary-suffix case the naive
  * trie-walk misses, and the codegen'd DataFrame path.
  */
class MultiPatternSpec extends SparkSpec {

  private def count(pats: Seq[String], text: String): Long =
    new AhoCorasick(pats).countOccurrences(UTF8String.fromString(text))

  private def naive(pats: Seq[String], text: String): Long =
    pats.map { p =>
      (0 to text.length - p.length)
        .count(i => text.regionMatches(i, p, 0, p.length)).toLong
    }.sum

  test("dictionary-suffix matches are found (the textbook he/she/his/hers case)") {
    // 'ushers' contains she, he, hers — 'he' ends inside 'she', which
    // only the failure/dictionary-link chain can see
    assert(count(Seq("he", "she", "his", "hers"), "ushers") === 3L)
    assert(naive(Seq("he", "she", "his", "hers"), "ushers") === 3L)
  }

  test("all-occurrences semantics: self-overlapping pattern counts every position") {
    // 'aa' in 'aaaa' occurs at 3 positions — the documented divergence
    // from a replace()-based non-overlapping count (2); the l36 oracle
    // therefore uses border-free patterns only
    assert(count(Seq("aa"), "aaaa") === 3L)
  }

  test("random parity vs naive scanning") {
    val rnd = new scala.util.Random(42)
    val pats = Seq("ab", "bca", "aa", "c", "abc")
    for (_ <- 1 to 300) {
      val s = Seq.fill(rnd.nextInt(40))("abc".charAt(rnd.nextInt(3))).mkString
      assert(count(pats, s) === naive(pats, s), s"text '$s'")
    }
  }

  test("multi_count evaluates through codegen and matches the kernel") {
    val rows = Seq((1L, "the batch scan was slow and the stream dup'd"),
      (2L, "nothing here"), (3L, "filter filter slowslow"))
    val got = spark.createDataFrame(rows).toDF("id", "t")
      .select(col("id"),
        expr("multi_count(t, 'stream', 'filter', 'slow', 'batch scan', 'dup')")
          .as("h"))
      .orderBy(col("id")).collect().map(_.getLong(1)).toSeq
    val pats = Seq("stream", "filter", "slow", "batch scan", "dup")
    assert(got == rows.map(r => naive(pats, r._2)))
    assert(got == Seq(4L, 0L, 4L))
  }
}
