package graft.perfbench

/** Event-to-commit latency on the two-hop wire chain, derived from
  * outside the engine.
  *
  * Inputs: each knob update's seq on the input topic, its due time and its
  * fan-out `n`; each flood batch's end offset (input-topic seq) and commit
  * time; each mapper batch's end offset (units-topic seq) and commit time.
  * Flood batches run one after another and each publishes all its units
  * before it commits, so the units of flood batches 1..f occupy units-topic
  * seqs 1..C(f), where C(f) is the summed fan-out of every update the
  * flood has consumed through batch f. An update's units are therefore all
  * covered by the first mapper batch whose end offset reaches C(f) of the
  * flood batch that consumed it — an upper bound when the update's own
  * units sit early in that range, exact for its last unit. Window length
  * plays no part.
  */
object Latency {
  final case class Update(seq: Long, dueMs: Double, n: Long)
  final case class Batch(end: Long, commitMs: Double)
  /** Due → mapper commit, due → flood commit, flood commit → mapper commit. */
  final case class Hops(total: Double, flood: Double, mapper: Double)

  /** One entry per update, in `updates` order; None when the run ended
    * before a flood or mapper batch covered it. Batches must be given in
    * commit order (their end offsets are then non-decreasing). */
  def eventToCommit(
      updates: Seq[Update], flood: Seq[Batch], mapper: Seq[Batch]): Seq[Option[Hops]] = {
    val bySeq = updates.sortBy(_.seq)
    // C(f): units emitted by flood batches 1..f
    val cum = new Array[Long](flood.length)
    var i = 0
    var units = 0L
    flood.zipWithIndex.foreach { case (b, f) =>
      while (i < bySeq.length && bySeq(i).seq <= b.end) { units += bySeq(i).n; i += 1 }
      cum(f) = units
    }
    val floodEnds = flood.map(_.end).toIndexedSeq
    val mapperEnds = mapper.map(_.end).toIndexedSeq
    updates.map { u =>
      val f = firstAtLeast(floodEnds, u.seq)
      if (f < 0) None
      else {
        val m = firstAtLeast(mapperEnds, cum(f))
        if (m < 0) None
        else {
          val fc = flood(f).commitMs
          val mc = mapper(m).commitMs
          Some(Hops(mc - u.dueMs, fc - u.dueMs, mc - fc))
        }
      }
    }
  }

  /** Index of the first element ≥ x in a non-decreasing sequence, or -1. */
  def firstAtLeast(xs: IndexedSeq[Long], x: Long): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < x) lo = mid + 1 else hi = mid
    }
    if (lo < xs.length) lo else -1
  }
}
