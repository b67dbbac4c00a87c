package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import Latency.{Batch, Hops, Update}

class LatencySpec extends AnyFunSuite {
  // seqs 1..4 with fan-outs 2, 3, 1, 4: units topic positions 1-2, 3-5, 6, 7-10
  private val updates = Seq(
    Update(1, 1000.0, 2), Update(2, 1010.0, 3), Update(3, 1020.0, 1), Update(4, 1030.0, 4))

  test("an update waits for the mapper batch covering its flood batch's units") {
    val flood = Seq(Batch(2, 1100.0), Batch(4, 1200.0)) // C = 5, then 10
    val mapper = Seq(Batch(3, 1150.0), Batch(5, 1250.0), Batch(10, 1400.0))
    val got = Latency.eventToCommit(updates, flood, mapper)
    assert(got == Seq(
      Some(Hops(250.0, 100.0, 150.0)),
      Some(Hops(240.0, 90.0, 150.0)),
      Some(Hops(380.0, 180.0, 200.0)),
      Some(Hops(370.0, 170.0, 200.0))))
  }

  test("updates not yet covered by either stage have no latency") {
    val got = Latency.eventToCommit(updates, Seq(Batch(2, 1100.0)), Seq(Batch(4, 1150.0)))
    assert(got == Seq(None, None, None, None))
    val partial = Latency.eventToCommit(updates, Seq(Batch(2, 1100.0)), Seq(Batch(5, 1150.0)))
    assert(partial.take(2).forall(_.isDefined) && partial.drop(2).forall(_.isEmpty))
  }

  test("zero fan-out updates add no units and empty ranges are skipped") {
    val us = Seq(Update(1, 0.0, 0), Update(2, 0.0, 1))
    val got = Latency.eventToCommit(us, Seq(Batch(1, 10.0), Batch(2, 20.0)),
      Seq(Batch(0, 15.0), Batch(1, 30.0)))
    assert(got == Seq(Some(Hops(15.0, 10.0, 5.0)), Some(Hops(30.0, 20.0, 10.0))))
  }

  test("firstAtLeast is a lower bound search") {
    val xs = IndexedSeq(1L, 3L, 3L, 7L)
    assert(Latency.firstAtLeast(xs, 0) == 0)
    assert(Latency.firstAtLeast(xs, 3) == 1)
    assert(Latency.firstAtLeast(xs, 4) == 3)
    assert(Latency.firstAtLeast(xs, 8) == -1)
  }
}
