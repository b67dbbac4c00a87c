package graft.streaming

import graft.{SparkEntry, TestSpark}
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming IVF-PQ index maintenance ([[IvfPqIngest]]): frozen
  * codebooks, per-batch encode-and-append, codebook pinning, qerr drift
  * stats, and ADC retrieval over the accumulated store. The load-bearing
  * claim is INTERCHANGEABILITY: a stream-maintained index equals a
  * one-shot batch encode of the same vectors bit for bit, so everything
  * IvfPqSpec proves about the batch store transfers. */
class IvfPqIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 64
  private val nClusters = 20
  private val nBoot = 220 // bootstrap corpus: trains the frozen structures

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_ivfpq_ingest_$tag-${System.nanoTime()}"
    d
  }

  /** Bootstrap corpus + 3 later batches; batch 2 carries 5 planted
    * near-twins (cos ≈ 0.999) of bootstrap vector 7. Deterministic RNG. */
  private lazy val fixture: (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val rng = new scala.util.Random(41)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rng.nextGaussian()))
    def near(c: Array[Double], eps: Double) =
      Array.tabulate(dim)(j => c(j) + eps * rng.nextGaussian())
    val boot = (0 until nBoot).map { i =>
      (i.toLong, near(centers(i % nClusters), 0.05))
    }
    val target = boot(7)._2
    val batches = Seq(
      (1000 until 1040).map(i => (i.toLong, near(centers(i % nClusters), 0.05))),
      (2000 until 2040).map(i => (i.toLong, near(centers(i % nClusters), 0.05)))
        ++ (0 until 5).map(i => (2100L + i, near(target, 0.01))),
      (3000 until 3040).map(i => (i.toLong, near(centers(i % nClusters), 0.05))))
    (boot, batches.map(_.toSeq))
  }

  private def df(rows: Seq[(Long, Array[Double])]) = {
    spark.createDataFrame(rows).toDF("vec_id", "v")
  }

  private lazy val structures = {
    val (boot, _) = fixture
    val e = df(boot)
    val cents = SimilarityOps.kmCentroids(e, 8, 2)
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    (cents, SimilarityOps.pqTrain(resid, 8, 16, 2))
  }

  test("stream-maintained store == one-shot batch encode, bit for bit") {
    val (boot, batches) = fixture
    val (cents, cb) = structures
    val dir = freshDir("parity")
    IvfPqIngest.processBatch(df(boot), 0L, dir, cents, cb)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, cents, cb)
    }
    val streamed = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "cid", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2).toSeq))
      .sortBy(_._1)
    val oneShot = SimilarityOps
      .ivfPqEncode(df(boot ++ batches.flatten), cents, cb)
      .select("vec_id", "cid", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2).toSeq))
      .sortBy(_._1)
    assert(streamed.length == oneShot.length)
    assert(streamed.sameElements(oneShot),
      "streamed store diverged from one-shot batch encode")
  }

  test("replayed batch overwrites its own dir — no duplicate codes") {
    val (boot, batches) = fixture
    val (cents, cb) = structures
    val dir = freshDir("replay")
    IvfPqIngest.processBatch(df(boot), 0L, dir, cents, cb)
    IvfPqIngest.processBatch(df(batches.head), 1L, dir, cents, cb)
    // crash-replay of batch 1 (foreachBatch redelivers the same id)
    IvfPqIngest.processBatch(df(batches.head), 1L, dir, cents, cb)
    val ids = spark.read.parquet(s"$dir/codes").select("vec_id")
      .collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length,
      s"replay duplicated ${ids.length - ids.distinct.length} codes")
    assert(ids.length == nBoot + batches.head.length)
  }

  test("ADC retrieval over the accumulated store finds later-batch twins") {
    val (boot, batches) = fixture
    val (cents, cb) = structures
    val dir = freshDir("retrieve")
    IvfPqIngest.processBatch(df(boot), 0L, dir, cents, cb)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, cents, cb)
    }
    val pv = boot(7)._2
    // Codes-only retrieval resolves to QUANTIZATION granularity: at
    // ksub=16 every member of the probe's tight cluster (0.05-noise
    // bootstrap siblings AND 0.01-noise twins) quantizes to the same
    // residual code, so they all tie at the minimum ADC and ties break
    // by vec_id — the fine ranking inside a cluster is the exact
    // re-rank stage's job (q_ivfpq_topk), not the 8-byte store's. What
    // the ingest store owes is the SHORTLIST: k covering the tie group
    // must surface every planted twin at the minimum ADC score.
    val got = IvfPqIngest.retrieveGens(spark, dir,
      Map(0 -> IvfPqIngest.GenStructs(cents, cb)), pv, 3, 20)
    // the nprobe filter must reach the scan as partition pruning even
    // across the batch=N/cid=K two-level layout
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("cid"),
      s"cid isin not in PartitionFilters:\n$plan")
    val rows = got.collect().map(r => r.getLong(0) -> r.getDouble(1))
    val ids = rows.map(_._1).toSet
    val twins = (0 until 5).map(i => 2100L + i).toSet
    assert(twins.subsetOf(ids),
      s"ADC top-20 $ids misses planted batch-2 twins ${twins -- ids}")
    assert(ids.contains(7L), "probe's own bootstrap vector not retrieved")
    val minAdc = rows.map(_._2).min
    val twinAdcs = rows.filter(r => twins(r._1)).map(_._2)
    assert(twinAdcs.forall(_ == minAdc),
      s"twins not at the minimum ADC: $twinAdcs vs $minAdc")
  }

  test("marker publish mechanism: FileContext no-overwrite rename refuses an existing marker") {
    // Pins the property the r19-advisor marker fix rests on in THIS
    // environment: the publish writes the COMPLETE id to a unique temp
    // file first (so no reader ever observes an empty/partial marker —
    // the failure mode of fs.create(overwrite=false)+write on
    // filesystems where that create is an exists-check followed by a
    // truncating open), then renames via FileContext WITHOUT
    // Options.Rename.OVERWRITE, which the FS contract requires to FAIL
    // when the destination exists — so a losing first writer falls
    // through to the read-and-compare instead of replacing the
    // winner's id. Measured here so a platform change fails loud.
    val dir = freshDir("fs_props")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val marker = new org.apache.hadoop.fs.Path(root, "_probe_marker")
    def writeTmp(name: String, content: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(root, name)
      val out = fs.create(p, true)
      out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      p
    }
    def readMarker(): String = {
      val in = fs.open(marker)
      try new java.io.BufferedReader(
        new java.io.InputStreamReader(in)).readLine() finally in.close()
    }
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, spark.sparkContext.hadoopConfiguration)
    // First publisher wins: rename lands the complete content.
    fc.rename(writeTmp(".t1", "A\n"), marker)
    assert(readMarker() == "A")
    // Second publisher's no-overwrite rename must REFUSE the existing
    // destination and leave the winner's content in place.
    val t2 = writeTmp(".t2", "B\n")
    intercept[java.io.IOException] { fc.rename(t2, marker) }
    assert(readMarker() == "A",
      "no-overwrite rename replaced an existing marker — revisit the " +
        "marker-publish reasoning (the read-and-compare backstop stays " +
        "correct either way)")
  }

  test("concurrent first publishers: one complete id wins, failures are loud") {
    // Drives checkCodebookMarker itself from many threads racing the
    // SAME fresh dir with TWO different ids. The contract (scaladoc):
    // the published marker always holds ONE COMPLETE candidate id —
    // never empty, never partial (the temp+rename publish never
    // exposes in-flight bytes) — every failure is the loud
    // incomparable message (never a silent proceed-with-nothing), and
    // at least one writer succeeds. The exact success/failure
    // partition vs the final content is best-effort on a local FS
    // (rename-no-overwrite is check-then-rename underneath — the
    // documented residual window the read-and-compare backstops), so
    // it is deliberately NOT asserted here.
    val dir = freshDir("race")
    val ids = Seq("ivfpq 8 8 16 aaaa", "ivfpq 8 8 16 bbbb")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((0 until 16).map { i =>
        Future {
          try { IvfPqIngest.checkCodebookMarker(spark, dir, 0, ids(i % 2)); None }
          catch { case e: IllegalArgumentException => Some(e.getMessage) }
        }
      }), 60.seconds)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, "_codebook_g0"))
    val won = try new java.io.BufferedReader(
      new java.io.InputStreamReader(in)).readLine() finally in.close()
    assert(ids.contains(won), s"marker holds neither candidate id: [$won]")
    assert(results.exists(_.isEmpty), "no writer succeeded")
    results.filter(_.isDefined).foreach { r =>
      assert(r.exists(_.contains("incomparable")),
        s"a losing writer did not fail loud: $r")
    }
  }

  test("streaming wiring: start() maintains the store through real micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (boot, batches) = fixture
    val (cents, cb) = structures
    val dir = freshDir("stream")
    val ckpt = freshDir("stream_ckpt")
    val input = MemoryStream[(Long, Seq[Double])]
    val q = IvfPqIngest.start(
      input.toDF().toDF("vec_id", "v"), dir, ckpt, cents, cb)
    try {
      input.addData(boot.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      input.addData(batches.head.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/codes").select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == (boot ++ batches.head).map(_._1).toSet,
        "streamed store must hold exactly the ingested vectors")
      val stats = spark.read.parquet(s"$dir/stats").count()
      assert(stats == 2, s"expected one stats row per micro-batch, got $stats")
    } finally q.stop()
  }

  test("codebook mismatch on reopen fails loud") {
    val (boot, _) = fixture
    val (cents, cb) = structures
    val dir = freshDir("marker")
    IvfPqIngest.processBatch(df(boot), 0L, dir, cents, cb)
    // retrained codebook (different iters → different means) must be refused
    val e = df(boot)
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    val cb2 = SimilarityOps.pqTrain(resid, 8, 16, 1)
    assert(IvfPqIngest.codebookId(cents, cb2) != IvfPqIngest.codebookId(cents, cb))
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.processBatch(df(boot), 1L, dir, cents, cb2)
    }
    assert(ex.getMessage.contains("incomparable"))
    val ex2 = intercept[IllegalArgumentException] {
      IvfPqIngest.retrieveGens(spark, dir,
        Map(0 -> IvfPqIngest.GenStructs(cents, cb2)), boot.head._2, 2, 5)
    }
    assert(ex2.getMessage.contains("incomparable"))
  }

  test("qerr stats price distribution drift (the retrain signal)") {
    val (boot, batches) = fixture
    val (cents, cb) = structures
    val dir = freshDir("drift")
    IvfPqIngest.processBatch(df(boot), 0L, dir, cents, cb)
    IvfPqIngest.processBatch(df(batches.head), 1L, dir, cents, cb)
    // an out-of-distribution batch: vectors 3x the training scale land
    // far from every frozen centroid and codebook entry
    val rng = new scala.util.Random(43)
    val drifted = (9000 until 9040).map(i =>
      (i.toLong, Array.fill(dim)(3.0 * rng.nextGaussian())))
    IvfPqIngest.processBatch(df(drifted), 2L, dir, cents, cb)
    val stats = spark.read.parquet(s"$dir/stats")
      .select("batch", "n", "mean_qerr").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(stats(1)._1 == batches.head.length && stats(2)._1 == 40)
    assert(stats(2)._2 > 3 * stats(1)._2,
      f"drifted batch mean_qerr ${stats(2)._2}%.3f not clearly above " +
        f"in-distribution ${stats(1)._2}%.3f — the retrain signal is dead")
  }
}
