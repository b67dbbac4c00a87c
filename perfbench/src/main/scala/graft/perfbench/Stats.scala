package graft.perfbench

/** Order statistics for the benchmark's timings.
  *
  * A timing is reported as its median plus the highest percentile of a
  * fixed ladder that still has at least ten samples beyond it, with the
  * sample count — a p99 from 200 samples rests on two values and says
  * nothing, so the ladder stops where the sample stops supporting it.
  */
object Stats {
  /** Percentile ladder tried from the top down by [[tailPercentile]]. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Minimum number of samples strictly beyond a reported percentile. */
  val MinBeyond = 10

  /** 1-based nearest rank of percentile `p` (0..100) among `n` samples;
    * the epsilon keeps 99.9% of 10000 at rank 9990, not 9991. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  /** Nearest-rank percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    xs.sorted.apply(rank(xs.length, p) - 1)
  }

  /** Median as the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean of a non-empty sample of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of an empty sample")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Samples strictly beyond the nearest-rank `p` position of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * beyond it, or None when even the median lacks them (n < 20). */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.find(p => beyond(n, p) >= MinBeyond)

  /** Median, supported tail percentile and its value, and the count. */
  final case class Summary(
      median: Double, tailP: Option[Double], tail: Option[Double], n: Int) {
    def json: String = {
      val tp = tailP.map(p => Json.num(p)).getOrElse("null")
      val tv = tail.map(Json.num).getOrElse("null")
      s"""{"median":${Json.num(median)},"tail_p":$tp,"tail":$tv,"n":$n}"""
    }
  }

  def summary(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.length)
    Summary(median(xs), tp, tp.map(percentile(xs, _)), xs.length)
  }
}
