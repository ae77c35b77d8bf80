package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long,
                   counts: Map[String, Double] = Map.empty) =
    Span(id, parent, s"s$id", "l", start, end, counts)

  test("union of intervals counts overlap once and clips to the window") {
    assert(Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Spans.covered(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    assert(Spans.covered(Seq((0L, 10L), (10L, 20L)), 0, 100) == 20)
    assert(Spans.covered(Seq((-5L, 10L), (95L, 200L)), 0, 100) == 15)
    assert(Spans.covered(Nil, 0, 100) == 0)
  }

  test("self time subtracts overlapping children once") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 50), // overlaps the next child on [30, 50]
      span(2, 0, 30, 70),
      span(3, 1, 20, 40)) // grandchild: not subtracted from the root
    val self = Spans.selfTimes(spans)
    assert(self(0) == 100 - 60)
    assert(self(1) == 40 - 20)
    assert(self(2) == 40)
    assert(self(3) == 20)
  }

  test("a child that outlives its parent is clipped to the parent") {
    val self = Spans.selfTimes(Seq(span(0, -1, 0, 100), span(1, 0, 80, 150)))
    assert(self(0) == 80)
  }

  test("events go to the deepest span containing them") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 1, 20, 30))
    assert(Spans.deepest(spans, 25) == 2)
    assert(Spans.deepest(spans, 40) == 1)
    assert(Spans.deepest(spans, 60) == 0)
    assert(Spans.deepest(spans, 200) == -1)
  }

  test("counts roll up as sums, maxima as maxima, sampled jvm counters stay put") {
    val rolled = Spans.rollUp(Seq(
      span(0, -1, 0, 100, Map("jvm.gc_ms" -> 7.0)),
      span(1, 0, 0, 50, Map("jobs" -> 2.0, "max.mem" -> 5.0, "jvm.gc_ms" -> 3.0)),
      span(2, 1, 0, 10, Map("jobs" -> 1.0, "max.mem" -> 9.0)),
      span(3, 0, 50, 60, Map("jobs" -> 4.0, "max.mem" -> 1.0))))
      .map(s => s.id -> s.counts).toMap
    assert(rolled(0) == Map("jobs" -> 7.0, "max.mem" -> 9.0, "jvm.gc_ms" -> 7.0))
    assert(rolled(1) == Map("jobs" -> 3.0, "max.mem" -> 9.0, "jvm.gc_ms" -> 3.0))
  }
}
