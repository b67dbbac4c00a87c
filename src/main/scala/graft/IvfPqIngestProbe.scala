package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps
import graft.streaming.IvfPqIngest

/** Scale probe for the streaming IVF-PQ index maintenance
  * ([[graft.streaming.IvfPqIngest]]):
  * `runMain graft.IvfPqIngestProbe [nVecs] [nBatches]`
  * (defaults 200,000 / 10).
  *
  * Drives the REAL per-batch path (the same processBatch foreachBatch
  * invokes) over a mixture-of-gaussians stream: batch 0 is the bootstrap
  * that trains the frozen structures (nlist=64, ksub=256, M=8 — the
  * registered q_ivfpq shape), batches 1..n-1 are in-distribution arrivals,
  * plus one final OUT-of-distribution batch (3× scale) that must show up
  * as a qerr jump in the stats table — the retrain signal priced at
  * scale. Ends with an ADC retrieval over the accumulated store
  * (partition-prune plan guard on the batch=N/cid=K layout) for a probe
  * whose 5 planted twins arrived in the LAST in-distribution batch.
  * One JSON line at the end.
  */
object IvfPqIngestProbe {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(200000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = Sessions.local(appName = "graft-ivfpq-ingest-probe")
    import spark.implicits._

    val dim = 64
    val nCenters = 512
    val spread = 0.35
    val perBatch = nVecs / nBatches
    val dir = s"/tmp/graft_ivfpq_ingest_probe_${nVecs}_${System.nanoTime()}"

    def unif(c: org.apache.spark.sql.Column, salt: String) =
      (pmod(xxhash64(concat(c, lit(salt))), lit(1000000000L)).cast("double")
        + 0.5) / 1000000000.0
    def gauss(c: org.apache.spark.sql.Column, j: Int) =
      sqrt(lit(-2.0) * log(unif(c, s"_a$j"))) *
        cos(lit(2 * math.Pi) * unif(c, s"_b$j"))
    val centers = broadcast(spark.range(0, nCenters)
      .select(col("id").as("cidx"),
        array((0 until dim).map(j =>
          gauss(concat(lit("C"), col("id")), j)): _*).as("ctr")))
    def mixture(from: Long, until: Long, scale: Double): DataFrame = {
      val comps = (0 until dim).map { j =>
        lit(scale) * (element_at(col("ctr"), j + 1)
          + lit(spread) * gauss(col("vec_id"), j))
      }
      spark.range(from, until)
        .select(col("id").as("vec_id"),
          pmod(xxhash64(concat(lit("ctr"), col("id"))), lit(nCenters))
            .as("cidx"))
        .join(centers, "cidx")
        .select(col("vec_id"), array(comps: _*).as("v"))
    }

    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[ivfpq-ingest] $name%-32s $secs%8.2f s")
      (r, secs)
    }

    // Bootstrap: batch 0 trains the frozen structures.
    val boot = mixture(0, perBatch, 1.0).persist()
    val ((cents, cb), trainWall) = timed("train (coarse + residual PQ)") {
      val c = SimilarityOps.kmCentroids(boot, 64, 2)
      val resid = SimilarityOps.ivfPqResiduals(boot, c)
        .select(col("vec_id"), col("r").as("v"))
      (c, SimilarityOps.pqTrain(resid, 8, 256, 2))
    }

    // Probe target: bootstrap vector 7; its 5 twins arrive in the LAST
    // in-distribution batch (ids nVecs..nVecs+4, v = target + 1% noise).
    val target = boot.filter(col("vec_id") === 7)
      .select("v").head().getSeq[Double](0).toArray
    val twinRows = (0 until 5).map { i =>
      val rng = new scala.util.Random(100 + i)
      (nVecs + i, Array.tabulate(dim)(j => target(j) + 0.01 * rng.nextGaussian()))
    }

    var ingestWall = 0.0
    val (_, w0) = timed("ingest batch 0 (bootstrap)") {
      IvfPqIngest.processBatch(boot, 0L, dir, cents, cb)
    }
    ingestWall += w0
    boot.unpersist()
    for (b <- 1 until nBatches) {
      val batch = mixture(b * perBatch, (b + 1) * perBatch, 1.0)
      val withTwins =
        if (b == nBatches - 1)
          batch.unionByName(spark.createDataFrame(twinRows).toDF("vec_id", "v"))
        else batch
      val (_, w) = timed(s"ingest batch $b") {
        IvfPqIngest.processBatch(withTwins, b.toLong, dir, cents, cb)
      }
      ingestWall += w
    }
    val vecsPerSec = (nVecs + 5) / ingestWall

    // OOD batch: 3x scale — frozen codebooks must price it as qerr.
    val (_, driftWall) = timed("ingest OOD batch (3x scale)") {
      IvfPqIngest.processBatch(
        mixture(10 * nVecs, 10 * nVecs + perBatch, 3.0),
        nBatches.toLong, dir, cents, cb)
    }
    val stats = spark.read.parquet(s"$dir/stats")
      .select("batch", "mean_qerr").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val inDist = (0 until nBatches).map(stats)
    val ood = stats(nBatches)
    val qerrRatio = ood / (inDist.sum / inDist.size)
    println(f"[ivfpq-ingest] qerr in-dist mean ${inDist.sum / inDist.size}%.3f " +
      f"(spread ${inDist.min}%.3f-${inDist.max}%.3f), OOD $ood%.3f " +
      f"(ratio $qerrRatio%.1f×)")
    require(qerrRatio > 3,
      f"OOD batch qerr ratio $qerrRatio%.1f not clearly above in-dist — " +
        "the retrain signal is dead at scale")

    // Retrieval over the full accumulated store (nBatches+1 batch dirs).
    val (ids, retrWall) = timed("retrieve (nprobe=3, k=20)") {
      val got = IvfPqIngest.retrieveGens(spark, dir,
        Map(0 -> IvfPqIngest.GenStructs(cents, cb)), target, 3, 20)
      val plan = got.queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters: [") &&
        plan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("cid"),
        "cid filter did not partition-prune the accumulated store")
      got.collect().map(_.getLong(0)).toSet
    }
    val twinIds = twinRows.map(_._1).toSet
    val found = twinIds.count(ids)
    println(s"[ivfpq-ingest] retrieval: ${found}/5 last-batch twins in " +
      s"ADC top-20 (probe's own vector present: ${ids.contains(7L)})")
    require(found == 5 && ids.contains(7L),
      s"retrieval over the streamed store missed twins: $ids")

    println(
      s"""{"probe":"ivfpq_ingest","n_vecs":${nVecs + 5},"n_batches":$nBatches,""" +
        s""""train_s":${f"$trainWall%.2f"},"ingest_s":${f"$ingestWall%.2f"},""" +
        s""""vecs_per_sec":${vecsPerSec.round},"ood_qerr_ratio":${f"$qerrRatio%.1f"},""" +
        s""""retrieve_s":${f"$retrWall%.2f"},"twins_found":$found}""")
    // reclaim the store (~8 B/vec, but the dir is uniquely named)
    graft.SoakDirs.deleteRecursively(java.nio.file.Paths.get(dir))
    spark.stop()
  }
}
