package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {

  test("idle time is wall time minus the union of overlapping job intervals") {
    // pass [0, 100): jobs overlap at 10-30 and 20-40, nest at 50-60 in
    // 50-70, touch at 70-80, and one runs past the pass end
    val jobs = Seq((10L, 30L), (20L, 40L), (50L, 70L), (55L, 60L), (70L, 80L), (95L, 130L))
    assert(Intervals.unionLength(jobs) == 30 + 30 + 35)
    val busy = Intervals.coveredWithin(0, 100, jobs)
    assert(busy == 30 + 30 + 5)
    assert(100 - busy == 35)
    assert(Intervals.unionLength(Nil) == 0)
    assert(Intervals.unionLength(Seq((5L, 5L))) == 0)
  }

  test("self time is duration minus the part the children cover") {
    val spans = Seq(
      Span(1, 0, 1, "item", "q", 0, 100),
      Span(2, 1, 1, "build", "q", 0, 60),
      Span(3, 1, 1, "action", "noop", 60, 90),
      Span(10, 2, 1, "job", "job 0", 10, 20),
      Span(11, 2, 1, "job", "job 1", 15, 40),
      Span(12, 3, 1, "job", "job 2", 70, 95))
    val self = Intervals.selfTimes(spans)
    assert(self(1) == 10) // the gap 90-100
    assert(self(2) == 60 - 30)
    assert(self(3) == 30 - 20) // the job's tail past the action does not count
    assert(self(10) == 10 && self(11) == 25 && self(12) == 25)
    // children plus the item's own gaps make up its wall time
    assert(self(1) + spans.filter(_.parent == 1).map(_.dur).sum == spans.head.dur)
  }

  test("a job outside the span that submitted it fails the trace check") {
    val ms = 1000L
    val spans = Seq(
      Span(1, 0, 1, "item", "a", 0, 100 * ms),
      Span(2, 1, 1, "build", "a", 0, 60 * ms),
      Span(3, 0, 3, "item", "b", 100 * ms, 200 * ms))
    def job(parent: Long, trace: Long, s: Long, e: Long) =
      Span(Tracer.JobIdBase, parent, trace, "job", "job 0", s * ms, e * ms)
    assert(Main.jobSpanCheck(spans, Seq(job(2, 1, 10, 60), job(1, 1, 0, 100))).ok)
    assert(Main.jobSpanCheck(spans, Seq(job(2, 1, 10, 62))).ok) // within the slack
    assert(!Main.jobSpanCheck(spans, Seq(job(2, 1, 10, 70))).ok) // ends after its span
    assert(!Main.jobSpanCheck(spans, Seq(job(3, 1, 110, 120))).ok) // linked to another item
    assert(!Main.jobSpanCheck(spans, Seq(job(9, 1, 10, 20))).ok) // no such span
  }
}
