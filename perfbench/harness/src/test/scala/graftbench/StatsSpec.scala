package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p90 is reported once ten samples lie beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(90))
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(xs.count(_ > 90.0) == 10)
  }

  test("with fewer samples the highest percentile that keeps ten beyond it") {
    assert(Stats.tailPercentile(99).contains(89))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(27).contains(62))
    // the reported percentile really has ten samples above its rank,
    // and one percentile higher would not
    for (n <- 20 to 99; p <- Stats.tailPercentile(n)) {
      assert(n - Stats.rank(p, n) >= 10)
      assert(n - Stats.rank(p + 1, n) < 10)
    }
  }

  test("below 20 samples not even the median has ten beyond it") {
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(1).isEmpty)
  }

  test("query_p50 is the median query's median, not a mean across a gap") {
    // two fast queries and two slow ones, three passes each
    val s = Seq("a" -> 0.20, "a" -> 0.21, "a" -> 0.29, "b" -> 0.22, "b" -> 0.23,
      "b" -> 0.24, "c" -> 0.50, "c" -> 0.41, "c" -> 0.52, "d" -> 0.60, "d" -> 0.62,
      "d" -> 0.61)
    // pooled, the median is the mean of a's slowest and c's fastest sample
    assert(Stats.median(s.map(_._2)) == (0.29 + 0.41) / 2)
    assert(Stats.medianQuery(s) == (0.23 + 0.50) / 2)
    // with an odd number of queries it is one query's median
    assert(Stats.medianQuery(s.filterNot(_._1 == "d")) == 0.23)
  }

  test("median averages the two middle samples of an even count") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }
}
