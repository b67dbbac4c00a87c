package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps
import graft.streaming.IvfPqIngest

/** Scale probe for codebook GENERATION MIGRATION
  * ([[graft.streaming.IvfPqIngest.migrate]]):
  * `runMain graft.IvfPqMigrateProbe [nVecs] [nBatches] [nOodBatches]`
  * (defaults 200,000 / 10 / 3).
  *
  * The full lifecycle the qerr signal implies, driven at scale:
  *  1. bootstrap trains gen-0 structures (nlist=64, ksub=256, M=8 — the
  *     registered q_ivfpq shape); in-distribution batches stream in;
  *  2. the distribution DRIFTS (a constant manifold shift + fresh
  *     cluster centers — the "new domain" shape, learnable by a
  *     retrain); gen-0 prices it as a qerr jump (ratio reported);
  *  3. gen-1 structures are trained on a RECENT WINDOW (the last
  *     in-dist batch + the drifted batches — what an operator actually
  *     has at retrain time);
  *  4. the qerr-flagged (drifted) batches migrate FIRST through the
  *     INCREMENTAL surface (migrateBatch) — where gen-0 retrieval is
  *     actually degraded — then retrieval is exercised over the
  *     mixed-generation store (a gen-0-side probe and a drifted-side
  *     probe must both surface their planted twins, each scored by its
  *     own generation's arithmetic, with the (gen, cid)
  *     partition-prune plan-guarded);
  *  5. the rest migrates through the BULK one-job surface (wall +
  *     re-encode throughput reported), one
  *     more drifted batch ingests at gen 1 (operate-forever), and the
  *     post-migration qerr ratio of the drifted batches vs gen-1's
  *     in-dist band must be back under 2 — the loop the r17 verdict
  *     asked to close.
  * One JSON line at the end.
  */
object IvfPqMigrateProbe {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(200000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val nOod = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Sessions.local(appName = "graft-ivfpq-migrate-probe")

    val dim = 64
    val nCenters = 512
    val spread = 0.35
    val perBatch = nVecs / nBatches
    val dir = s"/tmp/graft_ivfpq_migrate_probe_${nVecs}_${System.nanoTime()}"

    def unif(c: org.apache.spark.sql.Column, salt: String) =
      (pmod(xxhash64(concat(c, lit(salt))), lit(1000000000L)).cast("double")
        + 0.5) / 1000000000.0
    def gauss(c: org.apache.spark.sql.Column, j: Int) =
      sqrt(lit(-2.0) * log(unif(c, s"_a$j"))) *
        cos(lit(2 * math.Pi) * unif(c, s"_b$j"))
    def centersFor(salt: String) = broadcast(spark.range(0, nCenters)
      .select(col("id").as("cidx"),
        array((0 until dim).map(j =>
          gauss(concat(lit(salt), col("id")), j)): _*).as("ctr")))
    val centersIn = centersFor("C")
    val centersOod = centersFor("D") // fresh cluster geometry
    def mixture(from: Long, until: Long, centers: DataFrame,
        offset: Double): DataFrame = {
      val comps = (0 until dim).map { j =>
        element_at(col("ctr"), j + 1) + lit(spread) * gauss(col("vec_id"), j) +
          lit(offset)
      }
      spark.range(from, until)
        .select(col("id").as("vec_id"),
          pmod(xxhash64(concat(lit("ctr"), col("id"))), lit(nCenters))
            .as("cidx"))
        .join(centers, "cidx")
        .select(col("vec_id"), array(comps: _*).as("v"))
    }
    def inDist(from: Long, until: Long) = mixture(from, until, centersIn, 0.0)
    // The drifted stream: new centers + a constant manifold shift.
    def ood(from: Long, until: Long) = mixture(from, until, centersOod, 2.0)

    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[ivfpq-migrate] $name%-36s $secs%8.2f s")
      (r, secs)
    }

    def twinsOf(target: Array[Double], baseId: Long, seed: Int) =
      (0 until 5).map { i =>
        val rng = new scala.util.Random(seed + i)
        (baseId + i,
          Array.tabulate(dim)(j => target(j) + 0.01 * rng.nextGaussian()))
      }

    // ---- gen 0: bootstrap + in-dist stream --------------------------
    val boot = inDist(0, perBatch).persist()
    val ((cents0, cb0), train0Wall) = timed("gen0 train (coarse + PQ)") {
      val c = SimilarityOps.kmCentroids(boot, 64, 2)
      val resid = SimilarityOps.ivfPqResiduals(boot, c)
        .select(col("vec_id"), col("r").as("v"))
      (c, SimilarityOps.pqTrain(resid, 8, 256, 2))
    }
    val targetIn = boot.filter(col("vec_id") === 7)
      .select("v").head().getSeq[Double](0).toArray
    val twinsIn = twinsOf(targetIn, nVecs, 100) // land in the LAST in-dist batch
    IvfPqIngest.processBatch(boot, 0L, dir, cents0, cb0)
    boot.unpersist()
    for (b <- 1 until nBatches) {
      val batch = inDist(b * perBatch, (b + 1) * perBatch)
      val withTwins =
        if (b == nBatches - 1)
          batch.unionByName(spark.createDataFrame(twinsIn).toDF("vec_id", "v"))
        else batch
      IvfPqIngest.processBatch(withTwins, b.toLong, dir, cents0, cb0)
    }

    // ---- drift arrives: OOD batches under gen 0 ----------------------
    val oodBase = 10 * nVecs
    val targetOod = ood(oodBase, oodBase + 1)
      .select("v").head().getSeq[Double](0).toArray
    val twinsOod = twinsOf(targetOod, 20 * nVecs, 200) // in the LAST ood batch
    for (b <- 0 until nOod) {
      val batch = ood(oodBase + b * perBatch, oodBase + (b + 1) * perBatch)
      val withTwins =
        if (b == nOod - 1)
          batch.unionByName(spark.createDataFrame(twinsOod).toDF("vec_id", "v"))
        else batch
      IvfPqIngest.processBatch(withTwins, (nBatches + b).toLong, dir, cents0, cb0)
    }
    def meanQerr(gen: Int, batches: Range): Double = {
      val m = spark.read.parquet(s"$dir/stats")
        .filter(col("gen") === gen)
        .select("batch", "mean_qerr").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      batches.map(m).sum / batches.size
    }
    val inBand0 = meanQerr(0, 0 until nBatches)
    val oodQerr0 = meanQerr(0, nBatches until nBatches + nOod)
    val ratio0 = oodQerr0 / inBand0
    println(f"[ivfpq-migrate] gen0 qerr: in-dist $inBand0%.3f, " +
      f"drifted $oodQerr0%.3f (ratio $ratio0%.1f×) — the retrain signal")
    require(ratio0 > 3,
      f"drift not priced under gen0 (ratio $ratio0%.1f) — fixture broken")

    // ---- retrain on the recent window, migrate -----------------------
    // The window an operator actually has: the last in-dist batch + the
    // drifted batches (ids re-based — seeds are the lowest vec_ids).
    val windowVecs = inDist((nBatches - 1) * perBatch, nBatches * perBatch)
      .unionByName(ood(oodBase, oodBase + nOod * perBatch))
      .select((row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("vec_id")) - 1).cast("long").as("vec_id"), col("v"))
    val ((cents1, cb1), train1Wall) = timed("gen1 train (recent window)") {
      val c = SimilarityOps.kmCentroids(windowVecs, 64, 2)
      val resid = SimilarityOps.ivfPqResiduals(windowVecs, c)
        .select(col("vec_id"), col("r").as("v"))
      (c, SimilarityOps.pqTrain(resid, 8, 256, 2))
    }
    IvfPqIngest.beginGeneration(spark, dir, 1, cents1, cb1)

    // The re-encode source: every vector the store indexed (the corpus
    // retrieval's exact re-rank reads anyway).
    val corpus = inDist(0, nVecs)
      .unionByName(spark.createDataFrame(twinsIn).toDF("vec_id", "v"))
      .unionByName(ood(oodBase, oodBase + nOod * perBatch))
      .unionByName(spark.createDataFrame(twinsOod).toDF("vec_id", "v"))

    // Migrate the qerr-FLAGGED batches first through the INCREMENTAL
    // surface (migrateBatch — the keep-the-store-serviceable path):
    // the drifted batches are where gen-0 retrieval is degraded (their
    // residuals exceed what in-dist codebooks resolve, so ADC noise
    // swamps true-neighbor margins — measured: the drifted twins drop
    // out of the ADC top-20 under gen-0 arithmetic), so the operator
    // heals the store where it hurts and the in-dist majority keeps its
    // perfectly-serviceable gen-0 codes until the bulk pass.
    val flagged = (nBatches until nBatches + nOod).map(_.toLong)
    val (_, migHalfWall) = timed(s"migrateBatch x${flagged.size} (flagged)") {
      flagged.foreach(b =>
        IvfPqIngest.migrateBatch(spark, dir, b, corpus, 0, 1, cents1, cb1))
    }
    val gens = Map(0 -> IvfPqIngest.GenStructs(cents0, cb0),
      1 -> IvfPqIngest.GenStructs(cents1, cb1))
    def retrieveIds(pv: Array[Double]): Set[Long] = {
      val got = IvfPqIngest.retrieveGens(spark, dir, gens, pv, 4, 20)
      val plan = got.queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters: [") &&
        plan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("cid"),
        "(gen, cid) filter did not partition-prune the mixed store")
      got.collect().map(_.getLong(0)).toSet
    }
    val (mixedFound, mixedWall) = timed("mixed-gen retrieval (2 probes)") {
      val gotIn = retrieveIds(targetIn)
      val gotOod = retrieveIds(targetOod)
      (twinsIn.map(_._1).count(gotIn), twinsOod.map(_._1).count(gotOod))
    }
    println(s"[ivfpq-migrate] mixed-generation retrieval: " +
      s"${mixedFound._1}/5 in-dist twins, ${mixedFound._2}/5 drifted twins")
    require(mixedFound._1 == 5 && mixedFound._2 == 5,
      s"mixed-generation retrieval lost twins: $mixedFound")

    // Finish through the BULK surface (one corpus join + one encode +
    // one dynamic-overwrite write); gen 0 must be physically empty.
    val (movedRest, migRestWall) = timed("migrate remainder (bulk)") {
      IvfPqIngest.migrate(spark, dir, corpus, 1, cents1, cb1)
    }
    require(IvfPqIngest.listBatches(spark, dir)
      .getOrElse(0, Set.empty).isEmpty, "gen-0 batches survived migration")
    val migWall = migHalfWall + migRestWall
    val totalVecs = nVecs + 5 + nOod * perBatch + 5
    val migVecsPerSec = totalVecs / migWall

    // Operate forever: one more drifted batch ingests at gen 1.
    IvfPqIngest.processBatch(
      ood(oodBase + 30 * nVecs, oodBase + 30 * nVecs + perBatch),
      (nBatches + nOod).toLong, dir, cents1, cb1, gen = 1)

    // The loop closes: under gen 1, the drifted batches sit back inside
    // the band (ratio vs gen-1's own in-dist batches).
    val inBand1 = meanQerr(1, 0 until nBatches)
    val oodQerr1 = meanQerr(1, nBatches until nBatches + nOod + 1)
    val ratio1 = oodQerr1 / inBand1
    println(f"[ivfpq-migrate] gen1 qerr: in-dist $inBand1%.3f, " +
      f"drifted $oodQerr1%.3f (ratio $ratio1%.1f× — was $ratio0%.1f×)")
    require(ratio1 < 2,
      f"post-migration drifted qerr ratio $ratio1%.1f did not return to " +
        "the in-dist band — the migration didn't consume the signal")

    println(
      s"""{"probe":"ivfpq_migrate","n_vecs":$totalVecs,""" +
        s""""n_batches":${nBatches + nOod},""" +
        s""""gen0_train_s":${f"$train0Wall%.2f"},""" +
        s""""gen1_train_s":${f"$train1Wall%.2f"},""" +
        s""""ood_qerr_ratio_gen0":${f"$ratio0%.1f"},""" +
        s""""ood_qerr_ratio_gen1":${f"$ratio1%.2f"},""" +
        s""""migrate_s":${f"$migWall%.2f"},""" +
        s""""migrate_vecs_per_sec":${migVecsPerSec.round},""" +
        s""""mixed_retrieval_twins":[${mixedFound._1},${mixedFound._2}],""" +
        s""""mixed_retrieval_s":${f"$mixedWall%.2f"},""" +
        s""""batches_migrated":${flagged.size + movedRest}}""")
    graft.SoakDirs.deleteRecursively(java.nio.file.Paths.get(dir))
    spark.stop()
  }
}
