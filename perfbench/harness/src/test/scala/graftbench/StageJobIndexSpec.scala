package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StageJobIndexSpec extends AnyFunSuite {

  test("a stage belongs to the job that ran it while a later job is open") {
    val idx = new StageJobIndex
    // job 1 runs stages 0 and 1; adaptive execution then starts job 2
    // (stage 2, listing stage 1 as an already-run parent) before job 1's
    // stage-1 tasks have finished
    idx.jobStarted(1, Seq(0, 1))
    idx.jobStarted(2, Seq(1, 2))
    // a stage-1 task ending now belongs to job 1, although job 2 is the
    // most recently opened job
    assert(idx.jobOf(1).contains(1))
    assert(idx.jobOf(0).contains(1))
    assert(idx.jobOf(2).contains(2))
    assert(idx.jobOf(3).isEmpty)
  }

  test("the attribution does not depend on the order job starts arrive in") {
    val idx = new StageJobIndex
    idx.jobStarted(7, Seq(4, 5))
    idx.jobStarted(6, Seq(3, 4))
    assert(idx.jobOf(4).contains(6))
    assert(idx.jobOf(5).contains(7))
    assert(idx.jobOf(3).contains(6))
  }
}
