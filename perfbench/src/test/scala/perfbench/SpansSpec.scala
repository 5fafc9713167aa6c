package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  test("union length merges overlaps and ignores empty intervals") {
    assert(Spans.unionLength(Nil) == 0)
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20)
    assert(Spans.unionLength(Seq((20L, 25L), (0L, 100L))) == 100)
    assert(Spans.covered((10L, 20L), Seq((0L, 12L), (18L, 40L))) == 4)
  }

  test("self time on a fixture trace: a call minus the union of its own jobs") {
    val op = Span(1, 0, 0, "merge", "op", 0, 200)
    val call = Span(2, 1, 1, "delta.selectiveMerge", "call", 0, 100)
    val other = Span(3, 1, 1, "iceberg.selectiveMerge", "call", 100, 200)
    val jobs = Seq(
      Span(10, 2, 0, "job 0", "job", 10, 30),
      Span(11, 2, 0, "job 1", "job", 20, 50),   // overlaps job 0
      Span(12, 2, 0, "job 2", "job", 90, 120),  // runs past the call's end
      Span(13, 3, 0, "job 3", "job", 110, 190), // another call's job
      Span(14, 0, 0, "job 4", "job", 60, 70))   // no call open
    assert(Spans.selfUs(call, jobs) == 100 - (40 + 10))
    assert(Spans.selfUs(other, jobs) == 100 - 80)
    assert(Spans.selfUs(op, jobs) == 200)
    // job busy time counts every job, whoever submitted it:
    // [10, 50] + [60, 70] + [90, 190]
    val busy = Spans.covered((0L, 200L), jobs.map(j => (j.startUs, j.endUs)))
    assert(busy == 40 + 10 + 100)
  }
}
