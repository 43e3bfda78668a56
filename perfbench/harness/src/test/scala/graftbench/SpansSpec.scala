package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("covered length merges overlapping children and clips them to the parent") {
    // [10,30) and [20,40) overlap; [35,50) overlaps the second;
    // [90,120) is clipped to the parent's end at 100
    val ivs = Seq((10L, 30L), (20L, 40L), (35L, 50L), (90L, 120L), (-5L, 5L))
    assert(Spans.coveredUs(0, 100, ivs) == 40 + 10 + 5)
    assert(Spans.coveredUs(0, 100, Nil) == 0)
    assert(Spans.coveredUs(0, 100, Seq((200L, 300L))) == 0)
  }

  test("self time is duration minus the union of the children, per level") {
    val spans = Seq(
      Span(1, "query", 0, 100, -1, "0/q"),
      Span(2, "define", 0, 40, 1, "0/q"),
      Span(3, "execute", 40, 100, 1, "0/q"),
      // two jobs open at once inside execute: union [50, 90)
      Span(4, "job", 50, 80, 3, "0/q"),
      Span(5, "job", 60, 90, 3, "0/q"),
      Span(6, "stage", 55, 75, 4, "0/q"))
    val self = Spans.selfUs(spans)
    assert(self(1) == 0)        // define and execute tile the query
    assert(self(2) == 40)       // no children
    assert(self(3) == 60 - 40)  // union of the jobs, not their sum
    assert(self(4) == 30 - 20)
    assert(self(5) == 30)
    assert(self(6) == 20)
    // overlapping siblings are not double-charged to their parent
    assert(self(3) + Spans.coveredUs(40, 100, Seq((50L, 80L), (60L, 90L))) == 60)
  }
}
