package graft.streaming

import graft.TestSpark
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Codebook GENERATION MIGRATION ([[IvfPqIngest.migrate]]) — the
  * consume-side of the qerr retrain signal (r17 verdict #1). The
  * load-bearing claims:
  *  1. a migrated store equals a from-scratch rebuild with the new
  *     structures BIT FOR BIT (re-encode reads source vectors, not
  *     lossy codes);
  *  2. retrieval is correct across the mixed-generation interval
  *     (per-generation LUTs joined on (gen, cid));
  *  3. the batch move is crash-safe: write-then-delete, a twice-present
  *     batch counts only at the higher generation, re-runs converge;
  *  4. migration is loud, never lossy: a source corpus missing indexed
  *     ids refuses instead of silently shrinking the batch;
  *  5. post-migration qerr on the drifted distribution returns toward
  *     the in-distribution band (the signal's loop actually closes —
  *     IvfPqMigrateProbe measures the full trajectory at scale). */
class IvfPqMigrateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 64
  private val nClusters = 20
  private val nBoot = 220

  private def freshDir(tag: String): String =
    s"/tmp/graft_ivfpq_migrate_$tag-${System.nanoTime()}"

  /** Bootstrap + 3 batches: 1 in-dist, 2 in-dist + 5 planted near-twins
    * of bootstrap vector 7, 3 DRIFTED — the same cluster structure
    * TRANSLATED by a constant offset (a new domain shifts the embedding
    * manifold; the structure stays learnable, which is exactly when a
    * retrain pays). Deterministic RNG. */
  private lazy val fixture: (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val rng = new scala.util.Random(47)
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
      (3000 until 3040).map(i =>
        (i.toLong, near(centers(i % nClusters), 0.05).map(_ + 2.0))))
    (boot, batches.map(_.toSeq))
  }

  private def df(rows: Seq[(Long, Array[Double])]) =
    spark.createDataFrame(rows).toDF("vec_id", "v")

  private lazy val allRows: Seq[(Long, Array[Double])] =
    fixture._1 ++ fixture._2.flatten

  /** Train (cents, cb) on a window; ids are re-based 0..n-1 because the
    * k-means/PQ seeds are the lowest vec_ids — exactly what a retrain on
    * a recent stream window does (the training frame's ids are scratch,
    * only the vectors matter). */
  private def train(window: Seq[Array[Double]]): (IvfPqIngest.Cents, IvfPqIngest.Books) = {
    val e = df(window.zipWithIndex.map { case (v, i) => (i.toLong, v) })
    val cents = SimilarityOps.kmCentroids(e, 8, 2)
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    (cents, SimilarityOps.pqTrain(resid, 8, 16, 2))
  }

  private lazy val gen0 = train(fixture._1.map(_._2))
  // Recent window: the last in-dist batch + the drifted batch — what a
  // deployment retrains on when qerr flags.
  private lazy val gen1 = train((fixture._2(1) ++ fixture._2(2)).map(_._2))

  /** Both generations as retrieval structures. */
  private lazy val gens = Map(
    0 -> IvfPqIngest.GenStructs(gen0._1, gen0._2),
    1 -> IvfPqIngest.GenStructs(gen1._1, gen1._2))

  /** Ingest boot + all batches into a fresh dir at generation `gen`. */
  private def build(dir: String, s: (IvfPqIngest.Cents, IvfPqIngest.Books),
      gen: Int): Unit = {
    val (boot, batches) = fixture
    if (gen > 0) IvfPqIngest.beginGeneration(spark, dir, gen, s._1, s._2)
    IvfPqIngest.processBatch(df(boot), 0L, dir, s._1, s._2, gen)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, s._1, s._2, gen)
    }
  }

  private def codesOf(dir: String): Array[(Long, Int, Seq[Byte])] =
    spark.read.parquet(s"$dir/codes")
      .select("vec_id", "cid", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2).toSeq))
      .sortBy(_._1)

  test("migrated store == from-scratch rebuild with gen-1 structures, bit for bit") {
    val migrated = freshDir("mig")
    build(migrated, gen0, 0)
    IvfPqIngest.beginGeneration(spark, migrated, 1, gen1._1, gen1._2)
    val moved = IvfPqIngest.migrate(
      spark, migrated, df(allRows), 1, gen1._1, gen1._2)
    assert(moved == 4, s"expected 4 batches migrated, got $moved")
    val rebuilt = freshDir("rebuild")
    build(rebuilt, gen1, 0)
    val a = codesOf(migrated)
    val b = codesOf(rebuilt)
    assert(a.length == b.length && a.length == allRows.length)
    assert(a.sameElements(b),
      "migrated codes diverged from a from-scratch gen-1 build")
    // The old generation is physically gone, and every batch moved.
    val byGen = IvfPqIngest.listBatches(spark, migrated)
    assert(byGen.getOrElse(0, Set.empty).isEmpty,
      s"gen-0 batches survived a full migration: $byGen")
    assert(byGen(1) == Set(0L, 1L, 2L, 3L))
  }

  test("mixed-generation retrieval is correct across the interval") {
    val dir = freshDir("mixed")
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1._1, gen1._2)
    // Migrate only batches 0 and 1 — batch 2 (the planted twins) and 3
    // stay at gen 0: the store is mid-migration.
    IvfPqIngest.migrateBatch(spark, dir, 0L, df(allRows), 0, 1, gen1._1, gen1._2)
    IvfPqIngest.migrateBatch(spark, dir, 1L, df(allRows), 0, 1, gen1._1, gen1._2)
    val byGen = IvfPqIngest.listBatches(spark, dir)
    assert(byGen(0) == Set(2L, 3L) && byGen(1) == Set(0L, 1L))

    val pv = fixture._1(7)._2
    val got = IvfPqIngest.retrieveGens(spark, dir, gens, pv, 3, 20)
    // The (gen, cid) filter must reach the scan as partition pruning.
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("cid"),
      s"(gen, cid) pruning not in PartitionFilters:\n$plan")
    val ids = got.collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "duplicate vec_ids in top-k")
    val twins = (0 until 5).map(i => 2100L + i).toSet
    assert(twins.subsetOf(ids.toSet),
      s"gen-0-side planted twins missing from mixed retrieval: ${twins -- ids.toSet}")
    assert(ids.contains(7L),
      "gen-1-side probe's own vector missing from mixed retrieval")

    // Passing structures for only one generation of a mixed store must
    // fail loud, not silently skip the other generation's codes.
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.retrieveGens(spark, dir,
        Map(0 -> IvfPqIngest.GenStructs(gen1._1, gen1._2)), pv, 3, 20).collect()
    }
    assert(ex.getMessage.contains("generation"))
  }

  test("crash window: a twice-present batch counts only at the higher generation") {
    val dir = freshDir("crash")
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1._1, gen1._2)
    // Simulate a crash after the new-dir write, before the old-dir
    // delete: write batch 2's gen-1 copy directly, leaving gen 0 intact.
    IvfPqIngest.processBatch(df(fixture._2(1)), 2L, dir, gen1._1, gen1._2, 1)
    val byGen = IvfPqIngest.listBatches(spark, dir)
    assert(byGen(0).contains(2L) && byGen(1).contains(2L))
    assert(IvfPqIngest.shadowedBatches(byGen) == Seq((0, 2L)))
    // The operator sees the crash window in the manifest: exactly the
    // twice-present batch's LOWER-generation row flags shadowed.
    val shadowRows = IvfPqIngest.manifest(spark, dir)
      .filter(col("shadowed")).select("gen", "batch")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(shadowRows == Seq((0, 2L)),
      s"manifest shadowed flags wrong: $shadowRows")
    val pv = fixture._1(7)._2
    val ids = IvfPqIngest.retrieveGens(spark, dir, gens, pv, 3, 20)
      .collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length,
      s"crash-window batch double-counted: ${ids.toSeq}")
    assert((0 until 5).map(i => 2100L + i).toSet.subsetOf(ids.toSet),
      "twins lost while their batch was twice-present")
    // Re-running the migration converges: the shadowed gen-0 dir goes.
    IvfPqIngest.migrateBatch(spark, dir, 2L, df(allRows), 0, 1, gen1._1, gen1._2)
    assert(IvfPqIngest.shadowedBatches(IvfPqIngest.listBatches(spark, dir)).isEmpty)
    // And a second re-run of an already-moved batch is a clean no-op.
    IvfPqIngest.migrateBatch(spark, dir, 2L, df(allRows), 0, 1, gen1._1, gen1._2)
    assert(IvfPqIngest.listBatches(spark, dir)(1).contains(2L))
  }

  test("migration refuses a source corpus missing indexed ids (never lossy)") {
    val dir = freshDir("lossy")
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1._1, gen1._2)
    val truncated = df(allRows.filter(_._1 != 7L)) // drop one indexed vector
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.migrateBatch(spark, dir, 0L, truncated, 0, 1, gen1._1, gen1._2)
    }
    assert(ex.getMessage.contains("refusing a lossy migration"))
    // The refused batch is untouched at gen 0.
    assert(IvfPqIngest.listBatches(spark, dir)(0).contains(0L))
  }

  test("generations are dense and ordered; markers pin each one") {
    val dir = freshDir("dense")
    build(dir, gen0, 0)
    assert(IvfPqIngest.latestGeneration(spark, dir) == 0)
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.beginGeneration(spark, dir, 2, gen1._1, gen1._2)
    }
    assert(ex.getMessage.contains("dense"))
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1._1, gen1._2)
    // Reopening gen 1 with different structures fails loud.
    val ex2 = intercept[IllegalArgumentException] {
      IvfPqIngest.processBatch(df(fixture._2.head), 9L, dir, gen0._1, gen0._2, 1)
    }
    assert(ex2.getMessage.contains("incomparable"))
  }

  test("bulk migrate converges when every pending batch is shadowed (crash after commit)") {
    // The r18 advisor's crash window: the dynamic-overwrite committed,
    // the old-dir delete loop never ran. Every pending batch is then
    // shadowed, `live` is empty, and the re-run must CONVERGE (delete
    // the stale dirs, return the count) — not die reading zero paths.
    val dir = freshDir("allshadow")
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1._1, gen1._2)
    // Simulate the committed half: every batch already present at gen 1.
    IvfPqIngest.processBatch(df(fixture._1), 0L, dir, gen1._1, gen1._2, 1)
    fixture._2.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, gen1._1, gen1._2, 1)
    }
    assert(IvfPqIngest.shadowedBatches(IvfPqIngest.listBatches(spark, dir))
      .map(_._2).toSet == Set(0L, 1L, 2L, 3L))
    val moved = IvfPqIngest.migrate(spark, dir, df(allRows), 1, gen1._1, gen1._2)
    assert(moved == 4, s"re-run must still own its 4 pending batches, got $moved")
    val byGen = IvfPqIngest.listBatches(spark, dir)
    assert(byGen.getOrElse(0, Set.empty).isEmpty,
      s"stale gen-0 dirs survived the converging re-run: $byGen")
    assert(byGen(1) == Set(0L, 1L, 2L, 3L))
    // And the converged store equals a from-scratch gen-1 build.
    val rebuilt = freshDir("allshadow_rebuild")
    build(rebuilt, gen1, 0)
    assert(codesOf(dir).sameElements(codesOf(rebuilt)))
  }

  test("post-migration qerr on the drifted batch returns toward the band") {
    val dir = freshDir("qerr")
    build(dir, gen0, 0)
    val statsBefore = spark.read.parquet(s"$dir/stats")
      .select("batch", "mean_qerr").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val inBand = statsBefore(1) // in-dist batch under gen 0
    val oodBefore = statsBefore(3) // drifted batch under gen 0
    assert(oodBefore > 3 * inBand,
      f"fixture sanity: drift not priced (ood $oodBefore%.3f vs $inBand%.3f)")
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1._1, gen1._2)
    IvfPqIngest.migrate(spark, dir, df(allRows), 1, gen1._1, gen1._2)
    val statsAfter = spark.read.parquet(s"$dir/stats")
      .filter(col("gen") === 1)
      .select("batch", "mean_qerr").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val oodAfter = statsAfter(3)
    assert(oodAfter < oodBefore / 3,
      f"migration did not recover the drifted batch: qerr " +
        f"$oodBefore%.3f -> $oodAfter%.3f under retrained structures")
  }
}
