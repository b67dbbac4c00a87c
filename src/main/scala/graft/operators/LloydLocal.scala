package graft.operators

/** In-memory twins of the Lloyd's-family trainers ([[SimilarityOps.kmCentroids]],
  * [[SimilarityOps.pqTrain]], [[SimilarityOps.opqTrainRotation]]) over a
  * training set already collected to the driver as (vec_id, v) rows of
  * dense Dim-length vectors. [[SimilarityOps]] dispatches here when the
  * set is under [[SimilarityOps.LocalTrainMaxWork]]; above it the
  * distributed per-round loops run.
  *
  * Every structure comes out BIT-IDENTICAL to the distributed loop's:
  * each per-row kernel is the one the distributed plan evaluates
  * ([[SimilarityOps.pqNearest]], [[SimilarityOps.CentIndex]] at k ≥
  * PruneK, [[SimilarityOps.rotateVec]], [[SimilarityOps.pqReconstruct]]),
  * the brute k-means assignment transcribes `kmScores` +
  * `array_min`/`array_position` term for term, and every mean goes
  * through Spark's own `round(x · 1e4) / 1e4`. The sums accumulate in row order rather than Spark's
  * partial-aggregate merge order; the 1e-4 rounding absorbs that
  * last-ulp difference exactly as it absorbs the distributed loop's own
  * task-arrival nondeterminism (LloydLocalSpec pins the identity).
  */
private[graft] object LloydLocal {

  type Rows = Array[(Long, Array[Double])]

  /** Spark's `round(x)` on a double (RoundBase, scale 0, HALF_UP over
    * `BigDecimal.valueOf` — the shortest decimal that round-trips — with
    * NaN/±∞ passed through). */
  private def sparkRound(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The family's rounded mean, `round(s / n * 10000) / 10000`. */
  private def mean4(s: Double, n: Long): Double = sparkRound(s / n * 10000) / 10000

  /** Rows with vec_id < `k`, as (cid, v) sorted by cid — the
    * `filter(vec_id < k)` + collect + sortBy seed every trainer starts
    * from. */
  private def seedRows(rows: Rows, k: Int): Array[(Int, Array[Double])] =
    rows.filter(_._1 < k).map { case (id, v) => (id.toInt, v) }.sortBy(_._1)

  /** The brute assignment's cell: `array_position(ds, array_min(ds)) − 1`
    * over ds(i) = (v·v − 2·v·c_i) + Σc_i², each dot the left fold
    * DotProduct evaluates. array_min keeps the first element nothing later
    * is strictly below under Spark's double ordering (x == y ⇒ equal, else
    * Double.compare, so NaN ranks above every number), and array_position
    * finds that same first index. Returns the INDEX, as the brute plan
    * does. */
  private def bruteCell(
      v: Array[Double], cs: Array[Array[Double]], cc: Array[Double]): Int = {
    var vv = 0.0
    var t = 0
    while (t < v.length) { vv += v(t) * v(t); t += 1 }
    var best = 0.0
    var bestIdx = -1
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      var vc = 0.0
      t = 0
      while (t < c.length) { vc += v(t) * c(t); t += 1 }
      val d = (vv - 2 * vc) + cc(i)
      if (bestIdx < 0 || (d != best && java.lang.Double.compare(d, best) < 0)) {
        best = d; bestIdx = i
      }
      i += 1
    }
    bestIdx
  }

  def kmCentroids(rows: Rows, k: Int, iters: Int): Array[(Int, Array[Double])] = {
    val dim = SimilarityOps.Dim
    var centroids = seedRows(rows, k)
    for (_ <- 1 to iters) {
      // the cell key each row groups under: the declared cid on the
      // pruned path, the array index on the brute one (kmAssign's split)
      val cellOf: Array[Double] => Int =
        if (centroids.length >= SimilarityOps.PruneK) {
          val idx = new SimilarityOps.CentIndex(centroids)
          v => idx.assign(v)._1
        } else {
          val cs = centroids.map(_._2)
          val cc = cs.map(c => c.map(x => x * x).sum) // kmScores' |c|² literal
          v => bruteCell(v, cs, cc)
        }
      val sums = scala.collection.mutable.HashMap.empty[Int, (Array[Double], Array[Long])]
      rows.foreach { case (_, v) =>
        val (s, n) = sums.getOrElseUpdate(cellOf(v), (new Array[Double](dim), Array(0L)))
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        n(0) += 1
      }
      // an emptied cell keeps its previous centroid (the distributed
      // loop's getOrElse carry)
      centroids = centroids.map { case (cid, old) =>
        cid -> sums.get(cid).map { case (s, n) => s.map(mean4(_, n(0))) }.getOrElse(old)
      }
    }
    centroids
  }

  def pqTrain(rows: Rows, nSub: Int, ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    val dsub = SimilarityOps.Dim / nSub
    val seed = seedRows(rows, ksub).map(_._2)
    require(seed.length == ksub,
      s"PQ init needs vec_ids 0..${ksub - 1} present (got ${seed.length})")
    var cb = Array.tabulate(nSub)(m => seed.map(_.slice(m * dsub, m * dsub + dsub)))
    for (_ <- 1 to iters) {
      val sums = Array.ofDim[Double](nSub, ksub, dsub)
      val ns = Array.ofDim[Long](nSub, ksub)
      rows.foreach { case (_, v) =>
        var m = 0
        while (m < nSub) {
          val c = SimilarityOps.pqNearest(cb(m), v, m * dsub)
          val s = sums(m)(c)
          var j = 0
          while (j < dsub) { s(j) += v(m * dsub + j); j += 1 }
          ns(m)(c) += 1
          m += 1
        }
      }
      val prev = cb
      cb = Array.tabulate(nSub)(m => Array.tabulate(ksub)(c =>
        if (ns(m)(c) == 0) prev(m)(c)
        else sums(m)(c).map(mean4(_, ns(m)(c)))))
    }
    cb
  }

  /** `opqGram`'s cross-Gram M(a)(b) = round(Σ x(b)·x̂(a) · 1e4) / 1e4,
    * with x̂ = decode(encode(y)) of the already-rotated y. */
  private def gram(
      xs: Rows, ys: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val dim = SimilarityOps.Dim
    val m2 = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < xs.length) {
      val x = xs(i)._2
      val yh = SimilarityOps.pqReconstruct(cb, ys(i))
      var a = 0
      while (a < dim) {
        val row = m2(a)
        var b = 0
        while (b < dim) { row(b) += x(b) * yh(a); b += 1 }
        a += 1
      }
      i += 1
    }
    m2.map(_.map(s => sparkRound(s * 10000) / 10000))
  }

  def opqTrainRotation(
      rows: Rows, nSub: Int, ksub: Int, pqIters: Int,
      sweeps: Int): Array[Array[Double]] = {
    var r = SimilarityOps.rrMatrix
    for (_ <- 1 to sweeps) {
      val ys = rows.map { case (_, x) => SimilarityOps.rotateVec(r, x) }
      val cb = pqTrain(rows.map(_._1).zip(ys), nSub, ksub, pqIters)
      r = SimilarityOps.svdRotation(gram(rows, ys, cb))
    }
    r
  }
}
