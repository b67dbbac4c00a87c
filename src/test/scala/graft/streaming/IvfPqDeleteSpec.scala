package graft.streaming

import graft.TestSpark
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deletion in the compressed store ([[IvfPqIngest.delete]] /
  * [[IvfPqIngest.compact]]) — r17 verdict #3. The invariant under test:
  * a deleted vector NEVER appears in an ADC result — not between the
  * tombstone append and the physical purge (anti-join), not after
  * compaction (physically gone), not through a migration (dropped), and
  * not through any crash window of the compaction's dir swaps. */
class IvfPqDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 64
  private val nClusters = 20
  private val nBoot = 220

  private def freshDir(tag: String): String =
    s"/tmp/graft_ivfpq_delete_$tag-${System.nanoTime()}"

  /** Bootstrap + 2 batches; batch 2 carries 5 planted near-twins of
    * bootstrap vector 7 — the natural deletion victims: they dominate
    * the probe's top-k, so a leak is unmissable. */
  private lazy val fixture: (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val rng = new scala.util.Random(53)
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
        ++ (0 until 5).map(i => (2100L + i, near(target, 0.01))))
    (boot, batches.map(_.toSeq))
  }

  private def df(rows: Seq[(Long, Array[Double])]) =
    spark.createDataFrame(rows).toDF("vec_id", "v")

  private def idsDf(ids: Seq[Long]) =
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id")

  private lazy val structures = {
    val (boot, _) = fixture
    val e = df(boot)
    val cents = SimilarityOps.kmCentroids(e, 8, 2)
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    (cents, SimilarityOps.pqTrain(resid, 8, 16, 2))
  }

  private def build(dir: String): Unit = {
    val (boot, batches) = fixture
    val (cents, cb) = structures
    IvfPqIngest.processBatch(df(boot), 0L, dir, cents, cb)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, cents, cb)
    }
  }

  private def topIds(dir: String, k: Int = 20): Set[Long] = {
    val (cents, cb) = structures
    IvfPqIngest.retrieveGens(spark, dir,
      Map(0 -> IvfPqIngest.GenStructs(cents, cb)), fixture._1(7)._2, 3, k)
      .collect().map(_.getLong(0)).toSet
  }

  private val twins = (0 until 5).map(i => 2100L + i).toSet

  test("tombstoned vectors never reach the shortlist (pre-compaction)") {
    val dir = freshDir("anti")
    build(dir)
    assert(twins.subsetOf(topIds(dir)), "fixture sanity: twins retrieved")
    IvfPqIngest.delete(spark, dir, idsDf(Seq(2100L, 2101L, 7L)))
    val got = topIds(dir)
    assert(got.intersect(Set(2100L, 2101L, 7L)).isEmpty,
      s"deleted ids leaked into the shortlist: $got")
    assert(Set(2102L, 2103L, 2104L).subsetOf(got),
      "undeleted twins must still surface")
  }

  test("compaction purges past the threshold, skips below it, prunes tombstones") {
    val dir = freshDir("compact")
    build(dir)
    // 2/45 of batch 2 (~4.4%) + an unknown id: below a 10% threshold.
    IvfPqIngest.delete(spark, dir, idsDf(Seq(2100L, 2101L, 999999L)))
    assert(IvfPqIngest.compact(spark, dir, 0.10).isEmpty,
      "4% deleted must not trip a 10% threshold")
    // Live tombstones untouched below threshold; the unknown id (which
    // matches no row anywhere) prunes even without a rewrite.
    assert(IvfPqIngest.readDeletes(spark, dir)
      .get.collect().map(_.getLong(0)).toSet == Set(2100L, 2101L))
    // 5 more from batch 2 (7/45 ≈ 16%): now it compacts.
    IvfPqIngest.delete(spark, dir, idsDf(Seq(2102L, 2103L, 2104L, 2000L, 2001L)))
    val rewritten = IvfPqIngest.compact(spark, dir, 0.10)
    assert(rewritten == Seq((0, 2L)), s"expected batch 2 rewritten: $rewritten")
    // Physically gone: the raw codes scan has no trace.
    val raw = spark.read.parquet(s"$dir/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(raw.intersect(twins ++ Set(2000L, 2001L)).isEmpty,
      "purged ids still physically present")
    // Every tombstone was consumed by the rewrite: the table empties.
    val remaining = IvfPqIngest.readDeletes(spark, dir)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(remaining.isEmpty,
      s"tombstones not pruned after their purge: $remaining")
    // Retrieval stays leak-free and serviceable post-compaction.
    val got = topIds(dir)
    assert(got.intersect(twins ++ Set(2000L, 2001L)).isEmpty,
      s"post-compaction leak: $got")
    assert(got.nonEmpty && got.contains(7L),
      "retrieval must still return the surviving neighborhood")
  }

  test("double delete and unknown ids are idempotent no-ops") {
    val dir = freshDir("idem")
    build(dir)
    IvfPqIngest.delete(spark, dir, idsDf(Seq(2100L)))
    IvfPqIngest.delete(spark, dir, idsDf(Seq(2100L))) // again
    IvfPqIngest.delete(spark, dir, idsDf(Seq(424242L))) // never existed
    val got = topIds(dir)
    assert(!got.contains(2100L) && Set(2101L, 2102L).subsetOf(got))
    // Compaction of batch 2 at 1/45: below any sane threshold — but at
    // threshold 0.0...01 it rewrites once and the dup tombstones all go.
    val rewritten = IvfPqIngest.compact(spark, dir, 0.01)
    assert(rewritten.contains((0, 2L)))
    assert(IvfPqIngest.readDeletes(spark, dir).isEmpty ||
      IvfPqIngest.readDeletes(spark, dir).get.count() == 0,
      "dup + unknown tombstones must all prune once consumed")
  }

  test("interrupted swap recovers: backup restored when live dir is missing") {
    val dir = freshDir("swap")
    build(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Simulate a crash between swapDir's two renames: live moved to the
    // hidden backup, replacement never landed.
    val live = new org.apache.hadoop.fs.Path(s"$dir/codes/gen=0/batch=2")
    val backup = new org.apache.hadoop.fs.Path(s"$dir/codes/gen=0/_batch=2.pre")
    require(fs.rename(live, backup))
    assert(!fs.exists(live))
    IvfPqIngest.recoverSwaps(spark, dir)
    assert(fs.exists(live) && !fs.exists(backup),
      "crash window not healed: batch dir lost")
    assert(twins.subsetOf(topIds(dir)), "healed store must retrieve")
    // Completed-swap debris (backup AND live both present) just drops.
    val debris = new org.apache.hadoop.fs.Path(s"$dir/codes/gen=0/_batch=1.pre")
    fs.mkdirs(debris)
    IvfPqIngest.recoverSwaps(spark, dir)
    assert(!fs.exists(debris))
  }

  test("a compaction that empties a batch — or the whole store — stays clean") {
    // r18 advisor: a fully-tombstoned batch used to be rewritten as an
    // empty dir (listed forever), and emptying the STORE broke the
    // tombstone-prune re-read (no files to infer a schema from).
    val dir = freshDir("empty")
    build(dir)
    // First: tombstone ALL of batch 2 only — its dir must be DROPPED,
    // not swapped empty, and the other batches stay untouched.
    val batch2Ids = spark.read.parquet(s"$dir/codes/gen=0/batch=2")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfPqIngest.delete(spark, dir, idsDf(batch2Ids))
    val rewritten = IvfPqIngest.compact(spark, dir, 0.5)
    assert(rewritten == Seq((0, 2L)))
    val byGen = IvfPqIngest.listBatches(spark, dir)
    assert(byGen(0) == Set(0L, 1L),
      s"fully-tombstoned batch dir must be gone from listings: $byGen")
    assert(IvfPqIngest.readDeletes(spark, dir).isEmpty ||
      IvfPqIngest.readDeletes(spark, dir).get.count() == 0)
    assert(topIds(dir).contains(7L), "survivors must still retrieve")
    // Then: tombstone EVERYTHING — the store empties and compact still
    // converges (prune re-read guarded), leaving no batch dirs and no
    // tombstones.
    val allIds = spark.read.parquet(s"$dir/codes")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfPqIngest.delete(spark, dir, idsDf(allIds))
    val rewritten2 = IvfPqIngest.compact(spark, dir, 0.5)
    assert(rewritten2.toSet == Set((0, 0L), (0, 1L)))
    assert(IvfPqIngest.listBatches(spark, dir).values.forall(_.isEmpty),
      "emptied store must list no batches")
    assert(IvfPqIngest.readDeletes(spark, dir).isEmpty ||
      IvfPqIngest.readDeletes(spark, dir).get.count() == 0,
      "tombstones must prune even when the store emptied")
  }

  test("compact decodes batch ids past Int.MaxValue (partition type flip)") {
    // r18 advisor: `batch=N` dir names infer as IntegerType only while
    // N fits an Int; one long-running-stream batch id flips the column
    // to LongType and a hard getInt in compact() would throw.
    val dir = freshDir("bigbatch")
    val (cents, cb) = structures
    val bigId = Int.MaxValue.toLong + 7L
    IvfPqIngest.processBatch(df(fixture._1), 0L, dir, cents, cb)
    IvfPqIngest.processBatch(df(fixture._2.head), bigId, dir, cents, cb)
    IvfPqIngest.delete(spark, dir, idsDf(Seq(1000L, 1001L, 1002L, 1003L, 1004L)))
    val rewritten = IvfPqIngest.compact(spark, dir, 0.10)
    assert(rewritten == Seq((0, bigId)), s"expected the big batch rewritten: $rewritten")
    val raw = spark.read.parquet(s"$dir/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(raw.intersect(Set(1000L, 1001L, 1002L, 1003L, 1004L)).isEmpty)
    assert(raw.contains(1005L), "live rows of the big batch must survive")
  }

  test("a >50%-tombstoned cell still fills top-k from live rows (no under-fill)") {
    // r18 verdict #5: the anti-join runs BEFORE the top-k cut, so heavy
    // deletion inside a probed cell must never shrink the result set
    // while k live rows exist in the probed cells — pinned here.
    val dir = freshDir("fill")
    build(dir)
    val (cents, cb) = structures
    val pv = fixture._1(7)._2
    // The probe's own cell under the store's own quantizer:
    val homeCid = SimilarityOps.ivfPqProbedCells(cents, pv, 1).head._1
    val cellIds = spark.read.parquet(s"$dir/codes")
      .filter(col("cid") === homeCid)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    require(cellIds.size >= 12, s"fixture: home cell too small (${cellIds.size})")
    // Tombstone ~60% of the home cell, keeping vector 7 and enough live.
    val victims = cellIds.filterNot(_ == 7L)
      .take((cellIds.size * 0.6).toInt)
    IvfPqIngest.delete(spark, dir, idsDf(victims))
    val k = 10
    val got = IvfPqIngest.retrieveGens(spark, dir,
      Map(0 -> IvfPqIngest.GenStructs(cents, cb)), pv, 3, k)
      .collect().map(_.getLong(0))
    assert(got.length == k,
      s"top-$k under-filled to ${got.length} with live rows available")
    assert(got.toSet.intersect(victims.toSet).isEmpty,
      "tombstoned rows leaked into the filled shortlist")
  }

  test("manifest() tracks the store through delete and compaction") {
    val dir = freshDir("manifest")
    // Empty store: empty frame, full schema.
    val empty = IvfPqIngest.manifest(spark, dir)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("gen", "batch",
      "total", "live", "deleted", "occupancy_bp", "shadowed",
      "ingest_n", "ingest_mean_qerr", "ingest_max_qerr"))
    build(dir)
    def rows(): Map[(Int, Long), (Long, Long, Long, Long, Boolean, Long)] =
      IvfPqIngest.manifest(spark, dir).collect().map { r =>
        (r.getInt(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getBoolean(6), r.getLong(7)))
      }.toMap
    val before = rows()
    assert(before.keySet == Set((0, 0L), (0, 1L), (0, 2L)))
    assert(before((0, 0L)) == ((nBoot.toLong, nBoot.toLong, 0L, 10000L,
      false, nBoot.toLong)),
      s"pristine batch row wrong: ${before((0, 0L))}")
    assert(before((0, 2L))._1 == 45L) // 40 + 5 twins
    // Tombstone 5 of batch 2: live/deleted/occupancy update; the
    // ingest-time stats column stays the as-written signal.
    IvfPqIngest.delete(spark, dir,
      idsDf(Seq(2100L, 2101L, 2102L, 2103L, 2104L)))
    val during = rows()
    assert(during((0, 2L))._2 == 40L && during((0, 2L))._3 == 5L)
    assert(during((0, 2L))._4 == (40L * 10000 / 45),
      s"occupancy_bp wrong: ${during((0, 2L))._4}")
    assert(during((0, 0L)) == before((0, 0L)), "untouched batch drifted")
    // Post-compaction the batch is physically clean again.
    IvfPqIngest.compact(spark, dir, 0.05)
    val after = rows()
    assert(after((0, 2L))._1 == 40L && after((0, 2L))._2 == 40L &&
      after((0, 2L))._3 == 0L && after((0, 2L))._4 == 10000L,
      s"post-compaction manifest row wrong: ${after((0, 2L))}")
    assert(!after.values.exists(_._5), "no batch should be shadowed")
  }

  test("migration drops tombstoned rows and does not trip the lossy guard") {
    val dir = freshDir("mig")
    build(dir)
    IvfPqIngest.delete(spark, dir, idsDf(Seq(2100L, 2101L)))
    val (cents, cb) = structures
    // Retrain (fewer iters → different books) and migrate; the corpus
    // is missing the taken-down vectors — exactly the takedown reality.
    val e = df(fixture._1)
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    val cb1 = SimilarityOps.pqTrain(resid, 8, 16, 1)
    IvfPqIngest.beginGeneration(spark, dir, 1, cents, cb1)
    val corpus = df((fixture._1 ++ fixture._2.flatten)
      .filterNot(r => Set(2100L, 2101L)(r._1)))
    IvfPqIngest.migrate(spark, dir, corpus, 1, cents, cb1)
    val raw = spark.read.parquet(s"$dir/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(raw.intersect(Set(2100L, 2101L)).isEmpty,
      "migration carried tombstoned rows forward")
    assert(raw.contains(2102L), "migration lost a live row")
    // The next compaction prunes the now-matchless tombstones.
    IvfPqIngest.compact(spark, dir, 2.0) // threshold no dir can reach
    assert(IvfPqIngest.readDeletes(spark, dir).isEmpty ||
      IvfPqIngest.readDeletes(spark, dir).get.count() == 0)
  }

  test("a delete() racing compact() is never lost (the takedown race)") {
    // r19 judge #1: compact() used to snapshot the tombstone set and
    // END by swapping a pruned rewrite over `deletes/` — destroying any
    // tombstone appended between snapshot and swap. A lost TAKEDOWN is
    // a compliance bug: the deleted vector silently returns to
    // retrieval. The prune is now FILE-level (survivors re-publish as a
    // fresh file; only the snapshot files are consumed), so a racing
    // append — interleaved here through the test seam inside the
    // historical loss window — must survive, and its victim must never
    // retrieve again.
    val dir = freshDir("race")
    build(dir)
    // Enough of batch 2 tombstoned to trip the rewrite (the window is
    // only interesting when compact() actually does work).
    IvfPqIngest.delete(spark, dir, idsDf(Seq(2100L, 2101L, 2102L,
      2103L, 2104L, 2000L, 2001L)))
    val lateVictim = 2002L
    val rewritten = IvfPqIngest.compactImpl(spark, dir, 0.10, () =>
      IvfPqIngest.delete(spark, dir, idsDf(Seq(lateVictim))))
    assert(rewritten == Seq((0, 2L)), s"expected batch 2 rewritten: $rewritten")
    // The late tombstone survived the prune...
    val remaining = IvfPqIngest.readDeletes(spark, dir)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(remaining == Set(lateVictim),
      s"racing takedown lost or extra tombstones kept: $remaining")
    // ...its victim never reaches a shortlist...
    assert(!topIds(dir).contains(lateVictim),
      "the racing takedown's victim returned to retrieval")
    // ...and the NEXT compaction consumes it physically like any other.
    val rewritten2 = IvfPqIngest.compact(spark, dir, 0.01)
    assert(rewritten2.contains((0, 2L)))
    val raw = spark.read.parquet(s"$dir/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!raw.contains(lateVictim), "late victim not physically purged")
    assert(IvfPqIngest.readDeletes(spark, dir).isEmpty ||
      IvfPqIngest.readDeletes(spark, dir).get.count() == 0)
  }

  test("manifest() reports a store whose stats root is missing (crash window)") {
    // r19 advisor: a crash between writeBatch's codes write and its
    // stats write leaves codes with no stats root, and the audit tool
    // itself threw instead of reporting the store it exists to inspect.
    val dir = freshDir("nostats")
    build(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stats"), true)
    val rows = IvfPqIngest.manifest(spark, dir).collect()
    assert(rows.length == 3, s"expected 3 batch rows, got ${rows.length}")
    assert(rows.forall(r => r.isNullAt(7) && r.isNullAt(8) && r.isNullAt(9)),
      "missing ingest stats must surface as nulls, not a throw")
    assert(rows.map(r => r.getLong(2)).sum == (nBoot + 40 + 45).toLong,
      "occupancy columns must still be exact without stats")
  }
}
