package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("self time is the span minus the union of its children") {
    val spans = Seq(
      Span(1, 0, "pass", 0, 100, "r"),
      Span(2, 1, "q", 10, 40, "r"),
      Span(3, 1, "q", 30, 60, "r"), // overlaps its sibling: 10..60 counts once
      Span(4, 2, "build", 15, 20, "r"),
      Span(5, 1, "late", 90, 120, "r")) // clipped to the parent's end
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 5)
    assert(self(5) == 30)
  }

  test("covered merges, clips and ignores empty intervals") {
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L)), 0, 100) == 20)
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4)
    assert(Trace.covered(Seq((30L, 30L), (50L, 40L)), 0, 100) == 0)
    assert(Trace.covered(Nil, 0, 100) == 0)
  }

  test("spans nest on one thread and record nothing while disabled") {
    Trace.enabled = true
    Trace.span("outer") { Trace.span("inner")(()) }
    Trace.enabled = false
    Trace.span("ignored")(())
    val got = Trace.recorded.filter(s => Set("outer", "inner", "ignored")(s.name))
    val outer = got.find(_.name == "outer").get
    val inner = got.find(_.name == "inner").get
    assert(got.size == 2 && outer.parent == 0 && inner.parent == outer.id)
    assert(inner.start >= outer.start && inner.end <= outer.end)
  }
}
