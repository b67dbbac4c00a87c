package graft

import graft.operators.SimilarityOps
import graft.streaming.IvfPqIngest
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Lloyd's-family size dispatch: a training set under
  * SimilarityOps.LocalTrainMaxWork trains in memory after one collect,
  * and every structure it returns must equal the distributed per-round
  * loop's (forced with `localMaxWork = 0`) bit for bit — on the sf0.01
  * embedding fixture and on a seeded mixture built to hit the edge
  * cases: bit-identical duplicates among the seeds (so a cell empties
  * and must carry its previous centroid), a zero-norm vector, and
  * vectors drawn far from every seed. */
class LloydLocalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dim = SimilarityOps.Dim

  private lazy val fixture: DataFrame = {
    val sf01 = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
    Tables.embeddings(spark, sf01)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
  }

  /** 600 vectors around 12 seeded centres with per-centre anisotropy;
    * vec 1 duplicates vec 0 and vec 5 duplicates vec 3 (both inside every
    * seed range, so their cells empty on the first round), vec 2 is all
    * zeros, and ids ≥ 590 repeat earlier rows bit for bit. */
  private lazy val mixture: DataFrame = {
    val rng = new java.util.Random(20261017L)
    val centres = Array.fill(12)(Array.tabulate(dim)(j =>
      (if (j < 16) 6.0 else 1.0) * rng.nextGaussian()))
    val rows = Array.tabulate(600) { i =>
      val c = centres(rng.nextInt(centres.length))
      Array.tabulate(dim)(j => c(j) + 0.4 * rng.nextGaussian())
    }
    rows(1) = rows(0).clone()
    rows(5) = rows(3).clone()
    rows(2) = new Array[Double](dim)
    for (i <- 590 until 600) rows(i) = rows(i - 590 + 10).clone()
    spark.createDataFrame(rows.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("vec_id", "v").persist()
  }

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToLongBits)

  private def sameCents(
      a: Array[(Int, Array[Double])], b: Array[(Int, Array[Double])]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((ca, va), (cb, vb)) =>
      ca == cb && bits(va) == bits(vb) }

  private def sameMatrix(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => bits(x) == bits(y) }

  private def sameBooks(
      a: Array[Array[Array[Double]]], b: Array[Array[Array[Double]]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => sameMatrix(x, y) }

  private def frames = Seq("sf0.01 fixture" -> fixture, "mixture" -> mixture)

  test("kmCentroids: in-memory and distributed agree bit for bit (brute, k=8)") {
    for ((name, e) <- frames) {
      val local = SimilarityOps.kmCentroids(e, 8, 2)
      val dist = SimilarityOps.kmCentroids(e, 8, 2, localMaxWork = 0L)
      assert(sameCents(local, dist), s"$name: k=8 centroids differ")
    }
  }

  test("kmCentroids: in-memory and distributed agree bit for bit (pruned, k >= PruneK)") {
    val k = SimilarityOps.PruneK + 8
    for ((name, e) <- frames) {
      val local = SimilarityOps.kmCentroids(e, k, 2)
      val dist = SimilarityOps.kmCentroids(e, k, 2, localMaxWork = 0L)
      assert(sameCents(local, dist), s"$name: k=$k centroids differ")
    }
  }

  test("the mixture really empties a cell and carries its seed") {
    // vec 1 = vec 0, so on the first round seed 1 ties seed 0 on every
    // vector and loses (ties go to the low cell): after that round its
    // centroid must still be the raw seed, on both paths
    val seed1 = mixture.filter(col("vec_id") === 1).select("v").head.getSeq[Double](0).toArray
    for (work <- Seq(SimilarityOps.LocalTrainMaxWork, 0L)) {
      val cents = SimilarityOps.kmCentroids(mixture, 8, 1, work)
      assert(bits(cents(1)._2) == bits(seed1))
      assert(bits(cents(0)._2) != bits(seed1))
    }
  }

  test("pqTrain: in-memory and distributed agree bit for bit") {
    for ((name, e) <- frames) {
      val local = SimilarityOps.pqTrain(e, 8, 16, 2)
      val dist = SimilarityOps.pqTrain(e, 8, 16, 2, localMaxWork = 0L)
      assert(sameBooks(local, dist), s"$name: codebooks differ")
    }
  }

  test("opqTrainRotation: in-memory and distributed agree bit for bit") {
    for ((name, e) <- frames) {
      val local = SimilarityOps.opqTrainRotation(e, 8, 16, 2, 2)
      val dist = SimilarityOps.opqTrainRotation(e, 8, 16, 2, 2, localMaxWork = 0L)
      assert(sameMatrix(local, dist), s"$name: rotations differ")
    }
  }

  test("trainGeneration: in-memory and distributed GenStructs agree, rot choice included") {
    val armed = for ((name, e) <- frames) yield {
      val local = IvfPqIngest.trainGeneration(e, 8, 8, 16)
      val dist = IvfPqIngest.trainGeneration(e, 8, 8, 16, localTrainMaxWork = 0L)
      assert(local.rot.isDefined == dist.rot.isDefined, s"$name: arming differs")
      assert(local.rot.zip(dist.rot).forall { case (a, b) => sameMatrix(a, b) },
        s"$name: rotations differ")
      assert(sameCents(local.cents, dist.cents), s"$name: centroids differ")
      assert(sameBooks(local.cb, dist.cb), s"$name: codebooks differ")
      local.rot.isDefined
    }
    // the fixture disarms OPQ and the anisotropic mixture arms it, so
    // both sides of the rotation choice are compared
    assert(armed == Seq(false, true))
  }

  test("fixture-size kmCentroids and pqTrain each run exactly one job") {
    val e = fixture
    e.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    GraftTestBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      def jobsOf(body: => Unit): Int = {
        GraftTestBridge.drainListeners(sc)
        val before = jobs.get()
        body
        GraftTestBridge.drainListeners(sc)
        jobs.get() - before
      }
      assert(jobsOf(SimilarityOps.kmCentroids(e, 8, 2)) == 1)
      assert(jobsOf(SimilarityOps.pqTrain(e, 8, 16, 2)) == 1)
    } finally sc.removeSparkListener(l)
  }
}
