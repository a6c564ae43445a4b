package graftbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  private val w = Span(0, 100)

  test("disjoint jobs add up; the rest of the window is between jobs") {
    val jobs = Seq(Span(10, 20), Span(30, 50))
    assert(Intervals.unionMs(jobs, w) == 30)
    assert(Intervals.gapMs(w, jobs) == 70)
  }

  test("overlapping and nested jobs count once") {
    val jobs = Seq(Span(10, 40), Span(20, 30), Span(35, 60), Span(60, 70))
    assert(Intervals.unionMs(jobs, w) == 60)
    assert(Intervals.unionMs(jobs.reverse, w) == 60)
  }

  test("jobs are clipped to the window") {
    val jobs = Seq(Span(-50, 10), Span(90, 150), Span(200, 300))
    assert(Intervals.unionMs(jobs, w) == 20)
    assert(Intervals.gapMs(w, jobs) == 80)
  }

  test("no jobs means the whole window is driver time") {
    assert(Intervals.gapMs(w, Nil) == 100)
  }
}
