package graft.streaming

import graft.TestSpark
import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPQ rotation IN THE STREAMING STORE (r18 verdict #1): the trained
  * rotation (Ge et al., CVPR 2013 — [[SimilarityOps.opqTrainRotation]])
  * deployed through [[IvfPqIngest]]'s generation machinery, so the
  * measured recall win can roll into a LIVE index instead of existing
  * only as a batch query. Load-bearing claims:
  *  1. a store migrated to a rotated generation equals a from-scratch
  *     rotated rebuild BIT FOR BIT, and both equal the batch
  *     `rotateBy → ivfPqEncode` build — stream-maintained, migrated,
  *     and batch-built OPQ indexes are interchangeable;
  *  2. retrieval is correct across a MIXED rotated/unrotated interval:
  *     each generation scores in its own space (the probe rotates per
  *     generation), and because R is orthonormal both spaces' ADC
  *     estimate the same ‖p − v‖², so one global top-k stays valid;
  *  3. the codebook marker pins the rotation: the same (cents, cb)
  *     with and without R are INCOMPARABLE structures and must fail
  *     loud, never silently mix codes from different spaces.
  * IvfPqOpqProbe drives the recall payoff at scale on the anisotropic
  * corpus; this spec pins the arithmetic. */
class IvfPqOpqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 64
  private val nClusters = 20
  private val nBoot = 220

  private def freshDir(tag: String): String =
    s"/tmp/graft_ivfpq_opq_$tag-${System.nanoTime()}"

  /** Bootstrap + 3 batches; batch 2 carries 5 planted near-twins of
    * bootstrap vector 7 (the retrieval canaries). ANISOTROPIC on
    * purpose — dims 0..7 carry 10× the spread — so the trained rotation
    * has real structure to find, like the corpus OPQ exists for. */
  private lazy val fixture: (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val rng = new scala.util.Random(61)
    def scale(j: Int): Double = if (j < 8) 10.0 else 0.1
    val centers = Array.fill(nClusters)(
      Array.tabulate(dim)(j => scale(j) * rng.nextGaussian()))
    def near(c: Array[Double], eps: Double) =
      Array.tabulate(dim)(j => c(j) + eps * scale(j) * rng.nextGaussian())
    val boot = (0 until nBoot).map { i =>
      (i.toLong, near(centers(i % nClusters), 0.05))
    }
    val target = boot(7)._2
    val batches = Seq(
      (1000 until 1040).map(i => (i.toLong, near(centers(i % nClusters), 0.05))),
      (2000 until 2040).map(i => (i.toLong, near(centers(i % nClusters), 0.05))),
      (3000 until 3040).map(i => (i.toLong, near(centers(i % nClusters), 0.05)))
        ++ (0 until 5).map(i => (3100L + i, near(target, 0.01))))
    (boot, batches.map(_.toSeq))
  }

  private def df(rows: Seq[(Long, Array[Double])]) =
    spark.createDataFrame(rows).toDF("vec_id", "v")

  private lazy val allRows: Seq[(Long, Array[Double])] =
    fixture._1 ++ fixture._2.flatten

  /** Unrotated gen-0 structures (the pre-OPQ store). */
  private lazy val gen0: IvfPqIngest.GenStructs = {
    val e = df(fixture._1)
    val cents = SimilarityOps.kmCentroids(e, 8, 2)
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    IvfPqIngest.GenStructs(cents, SimilarityOps.pqTrain(resid, 8, 16, 2))
  }

  /** OPQ gen-1: train R on the bootstrap window, then coarse + PQ
    * structures in ROTATED space — the structures an operator ships
    * when the qerr signal says the flat codebooks under-resolve. */
  private lazy val gen1: IvfPqIngest.GenStructs = {
    val e = df(fixture._1)
    val r = SimilarityOps.opqTrainRotation(e, 8, 16, 2, 1)
    val rot = SimilarityOps.rotateBy(e, r)
    val cents = SimilarityOps.kmCentroids(rot, 8, 2)
    val resid = SimilarityOps.ivfPqResiduals(rot, cents)
      .select(col("vec_id"), col("r").as("v"))
    IvfPqIngest.GenStructs(
      cents, SimilarityOps.pqTrain(resid, 8, 16, 2), Some(r))
  }

  private def build(dir: String, s: IvfPqIngest.GenStructs, gen: Int): Unit = {
    val (boot, batches) = fixture
    if (gen > 0) IvfPqIngest.beginGeneration(spark, dir, gen, s.cents, s.cb, s.rot)
    IvfPqIngest.processBatch(df(boot), 0L, dir, s.cents, s.cb, gen, s.rot)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, s.cents, s.cb, gen, s.rot)
    }
  }

  private def codesOf(dir: String): Array[(Long, Int, Seq[Byte])] =
    spark.read.parquet(s"$dir/codes")
      .select("vec_id", "cid", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2).toSeq))
      .sortBy(_._1)

  test("migrated-to-OPQ store == from-scratch rotated rebuild == batch encode, bit for bit") {
    val migrated = freshDir("mig")
    build(migrated, gen0, 0)
    IvfPqIngest.beginGeneration(spark, migrated, 1, gen1.cents, gen1.cb, gen1.rot)
    val moved = IvfPqIngest.migrate(
      spark, migrated, df(allRows), 1, gen1.cents, gen1.cb, gen1.rot)
    assert(moved == 4, s"expected 4 batches migrated, got $moved")
    val rebuilt = freshDir("rebuild")
    build(rebuilt, gen1, 0)
    val a = codesOf(migrated)
    val b = codesOf(rebuilt)
    assert(a.length == b.length && a.length == allRows.length)
    assert(a.sameElements(b),
      "migrated OPQ codes diverged from a from-scratch rotated build")
    // And both equal the BATCH build: rotateBy → ivfPqEncode with the
    // same structures — the stream/batch interchangeability contract,
    // now holding through the rotation.
    val batchCodes = SimilarityOps.ivfPqEncode(
      SimilarityOps.rotateBy(df(allRows), gen1.rot.get), gen1.cents, gen1.cb)
      .select("vec_id", "cid", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2).toSeq))
      .sortBy(_._1)
    assert(a.sameElements(batchCodes),
      "streamed OPQ codes diverged from the batch rotateBy→ivfPqEncode build")
  }

  test("mixed rotated/unrotated retrieval is correct across the interval") {
    val dir = freshDir("mixed")
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1.cents, gen1.cb, gen1.rot)
    // Migrate batches 0 and 1; batch 2 and batch 3 (the twins) stay at
    // the unrotated gen 0 — the store is mid-rollout of the OPQ index.
    IvfPqIngest.migrateBatch(spark, dir, 0L, df(allRows), 0, 1,
      gen1.cents, gen1.cb, gen1.rot)
    IvfPqIngest.migrateBatch(spark, dir, 1L, df(allRows), 0, 1,
      gen1.cents, gen1.cb, gen1.rot)
    val byGen = IvfPqIngest.listBatches(spark, dir)
    assert(byGen(0) == Set(2L, 3L) && byGen(1) == Set(0L, 1L))

    val pv = fixture._1(7)._2
    val got = IvfPqIngest.retrieveGens(spark, dir,
      Map(0 -> gen0, 1 -> gen1), pv, 3, 20)
    // The (gen, cid) filter must still reach the scan as partition
    // pruning — the rotation must not cost the store its prune.
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("cid"),
      s"(gen, cid) pruning not in PartitionFilters:\n$plan")
    val ids = got.collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "duplicate vec_ids in top-k")
    val twins = (0 until 5).map(i => 3100L + i).toSet
    assert(twins.subsetOf(ids.toSet),
      s"unrotated-side planted twins missing from mixed retrieval: ${twins -- ids.toSet}")
    assert(ids.contains(7L),
      "rotated-side probe's own vector missing from mixed retrieval")
  }

  test("the marker pins the rotation: same (cents, cb) with/without R are incomparable") {
    val dir = freshDir("marker")
    val s = gen1
    IvfPqIngest.processBatch(df(fixture._1), 0L, dir, s.cents, s.cb, 0, s.rot)
    // Same generation, same centroids and codebooks, NO rotation: the
    // codes would live in a different space — must fail loud.
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.processBatch(df(fixture._2.head), 1L, dir, s.cents, s.cb, 0, None)
    }
    assert(ex.getMessage.contains("incomparable"))
    // And retrieval with the rotation dropped must refuse too.
    val ex2 = intercept[IllegalArgumentException] {
      IvfPqIngest.retrieveGens(spark, dir,
        Map(0 -> IvfPqIngest.GenStructs(s.cents, s.cb)), fixture._1(7)._2, 3, 5)
        .collect()
    }
    assert(ex2.getMessage.contains("incomparable"))
  }

  test("trainGeneration applies the arming rule and matches hand-built structures") {
    val window = df(fixture._1)
    // The anisotropic window must ARM (the regime OPQ exists for), and
    // the armed structures must equal the hand-built gen1 exactly —
    // trainGeneration is a composition, not a new code path.
    def flatR(a: Array[Array[Double]]): Seq[Double] =
      a.toSeq.flatMap(_.toSeq)
    def flatC(c: IvfPqIngest.Cents): Seq[Double] =
      c.sortBy(_._1).toSeq.flatMap(_._2.toSeq)
    def flatB(b: IvfPqIngest.Books): Seq[Double] =
      b.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
    val armed = IvfPqIngest.trainGeneration(window, 8, 8, 16, opqSweeps = 1)
    assert(armed.rot.isDefined,
      "anisotropic window did not arm OPQ at the default threshold")
    assert(flatR(armed.rot.get) == flatR(gen1.rot.get),
      "armed rotation diverged from the hand-built opqTrainRotation")
    assert(flatC(armed.cents) == flatC(gen1.cents))
    assert(flatB(armed.cb) == flatB(gen1.cb))
    // An unreachable threshold DISARMS: unrotated structures, equal to
    // the hand-built gen0 — the measured right answer for data where
    // the rotation buys too little.
    val disarmed = IvfPqIngest.trainGeneration(
      window, 8, 8, 16, opqSweeps = 1, minDrop = 0.99)
    assert(disarmed.rot.isEmpty, "minDrop=0.99 must never arm")
    assert(flatC(disarmed.cents) == flatC(gen0.cents))
    assert(flatB(disarmed.cb) == flatB(gen0.cb))
  }

  /** The hardest store state for retrieval: gen 0 unrotated, batch 0
    * migrated to the rotated gen 1, batch 1 present at BOTH generations
    * (a crash-window shadowed batch) and ids 20 and 3100 tombstoned. */
  private def mixedStore(tag: String): String = {
    val dir = freshDir(tag)
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1.cents, gen1.cb, gen1.rot)
    IvfPqIngest.migrateBatch(spark, dir, 0L, df(allRows), 0, 1,
      gen1.cents, gen1.cb, gen1.rot)
    IvfPqIngest.processBatch(df(fixture._2.head), 1L, dir,
      gen1.cents, gen1.cb, 1, gen1.rot)
    assert(IvfPqIngest.shadowedBatches(IvfPqIngest.listBatches(spark, dir))
      .nonEmpty, "fixture must exercise the shadowed-batch filter")
    IvfPqIngest.delete(spark, dir,
      spark.createDataFrame(Seq(Tuple1(20L), Tuple1(3100L))).toDF("vec_id"))
    dir
  }

  private lazy val mixedGens = Map(0 -> gen0, 1 -> gen1)

  private def batchRows(d: DataFrame): Seq[(Long, Long, Double)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2)).toSeq

  test("retrieveBatch == per-probe retrieveGens on the mixed rotated store") {
    // The Seq face (the LUT face under its bound) and one retrieveGens
    // per probe must return the same candidates with bit-identical ADC
    // doubles: one guarded scan, the same residual arithmetic in the same
    // fold order.
    val dir = mixedStore("batch")
    val gens = mixedGens
    val probes = Seq(7L, 20L, 55L, 100L).map(i => i -> fixture._1(i.toInt)._2)
    assert(IvfPqIngest.lutFits(probes.size, 3, gens.size, 8, 16))
    val lutRows = batchRows(
      IvfPqIngest.retrieveBatch(spark, dir, gens, probes, 3, 15))
    probes.foreach { case (pid, pv) =>
      val single = IvfPqIngest.retrieveGens(spark, dir, gens, pv, 3, 15)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = lutRows.filter(_._1 == pid).map(t => (t._2, t._3))
      assert(batch == single,
        s"probe $pid: batch face diverged from single retrieval\n" +
          s"batch:  $batch\nsingle: $single")
    }
    assert(!lutRows.exists(t => t._2 == 20L || t._2 == 3100L),
      "tombstoned ids leaked into the batch shortlist")
    assert(probes.forall { case (pid, _) => lutRows.count(_._1 == pid) == 15 },
      "per-probe top-k under-filled")
    // A tombstone laid after the first answer is respected too: probe 7's
    // best hit disappears and its top-k refills from live rows.
    val victim = lutRows.filter(_._1 == 7L).head._2
    IvfPqIngest.delete(spark, dir,
      spark.createDataFrame(Seq(Tuple1(victim))).toDF("vec_id"))
    val after = batchRows(
      IvfPqIngest.retrieveBatch(spark, dir, gens, probes, 3, 15))
    assert(!after.exists(_._2 == victim),
      s"tombstoned $victim leaked into the batch shortlist")
    assert(after.count(_._1 == 7L) == 15,
      "batch top-k under-filled after a tombstone with live rows")
    val exSeq = intercept[IllegalArgumentException] {
      IvfPqIngest.retrieveBatch(spark, dir, gens, probes :+ probes.head, 3, 15)
    }
    assert(exSeq.getMessage.contains("duplicate probe_ids"))
  }

  test("retrieveBatchDf == retrieveBatch(decode) bit for bit on the mixed rotated store") {
    // retrieveBatchDf is the decode face (probes as a frame, nothing
    // driver-materialized; retrieveBatch answers through it past the LUT
    // bound). It must return EXACTLY the rows of retrieveBatch's LUT face
    // — same candidates, bit-identical ADC doubles — so the face is
    // purely a cost decision.
    val dir = mixedStore("dfbatch")
    val gens = mixedGens
    val probes = Seq(7L, 20L, 55L, 100L).map(i => i -> fixture._1(i.toInt)._2)
    val probesDf = spark.createDataFrame(probes).toDF("probe_id", "v")
    val seqRows = batchRows(
      IvfPqIngest.retrieveBatch(spark, dir, gens, probes, 3, 15))
    val dfRows = batchRows(
      IvfPqIngest.retrieveBatchDf(spark, dir, gens, probesDf, 3, 15))
    assert(dfRows == seqRows,
      s"decode-side ADC diverged from the LUT face\n$dfRows\nvs\n$seqRows")
    assert(!dfRows.exists(t => t._2 == 20L || t._2 == 3100L),
      "tombstoned ids leaked through the DataFrame face")
    assert(probes.forall { case (pid, _) => dfRows.count(_._1 == pid) == 15 },
      "per-probe top-k under-filled")
    // The per-probe top-k must run through the WindowGroupLimit partial
    // — the exchange carries k×probes×partitions rows, never the scored
    // product — and duplicate probe ids are refused, not mis-ranked.
    val plan = IvfPqIngest.retrieveBatchDf(spark, dir, gens, probesDf, 3, 15)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"batch top-k lost the WindowGroupLimit partial:\n$plan")
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.retrieveBatchDf(spark, dir, gens,
        probesDf.unionByName(probesDf.limit(1)), 3, 15)
    }
    assert(ex.getMessage.contains("duplicate probe_ids"))
  }

  test("retrieveBatch past the LUT bound answers through the decode face") {
    // 2100 probes × 8 cells × 2 generations × (8 × 16) codes × 8 B is
    // 34.4 MB of LUTs, past the 32 MB bound; the probes reuse the
    // bootstrap vectors, so the ones with ids 0..219 must rank exactly as
    // the LUT face ranks them.
    val dir = mixedStore("overbound")
    val gens = mixedGens
    val probes = (0 until 2100).map(i => i.toLong -> fixture._1(i % nBoot)._2)
    assert(!IvfPqIngest.lutFits(probes.size, 8, gens.size, 8, 16))
    val decoded = batchRows(
      IvfPqIngest.retrieveBatch(spark, dir, gens, probes, 8, 15))
    assert(decoded.map(_._1).distinct.size == probes.size &&
      decoded.size == probes.size * 15, "per-probe top-k under-filled")
    val few = probes.filter(p => Set(7L, 55L, 100L)(p._1))
    assert(IvfPqIngest.lutFits(few.size, 8, gens.size, 8, 16))
    val lutRows = batchRows(
      IvfPqIngest.retrieveBatch(spark, dir, gens, few, 8, 15))
    assert(decoded.filter(t => Set(7L, 55L, 100L)(t._1)) == lutRows,
      "over-bound retrieveBatch diverged from the LUT face")
  }

  test("LUT dispatch: frames up to 32 MB broadcast, larger ones decode") {
    assert(IvfPqIngest.LutBroadcastMaxBytes == 32L * 1024 * 1024)
    // 4096 probes × 1 cell × 1 generation × 8 × 128 codes × 8 B = 32 MB
    assert(IvfPqIngest.lutFits(4096, 1, 1, 8, 128))
    assert(!IvfPqIngest.lutFits(4097, 1, 1, 8, 128))
    assert(IvfPqIngest.lutFits(16, 4, 1, 8, 64))
    assert(!IvfPqIngest.lutFits(1000, 16, 1, 8, 256))
    assert(IvfPqIngest.lutFits(0, 16, 2, 8, 256))
    // the product is taken in Long: a huge batch never wraps to "fits"
    assert(!IvfPqIngest.lutFits(Int.MaxValue, 16, 2, 8, 256))
  }

  test("a refused duplicate-probe call leaves no probe frame cached") {
    val dir = freshDir("dupcache")
    IvfPqIngest.processBatch(df(fixture._1), 0L, dir, gen0.cents, gen0.cb)
    val probesDf = spark.createDataFrame(
      Seq(7L, 20L, 7L).map(i => i -> fixture._1(i.toInt)._2)).toDF("probe_id", "v")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.retrieveBatchDf(spark, dir, Map(0 -> gen0), probesDf, 3, 15)
    }
    assert(ex.getMessage.contains("duplicate probe_ids"))
    assert(sc.getPersistentRDDs.size <= before,
      s"refused call left ${sc.getPersistentRDDs.size - before} RDDs cached")
  }

  test("rotated single-generation retrieval surfaces planted twins") {
    val dir = freshDir("single")
    build(dir, gen1, 0)
    val pv = fixture._1(7)._2
    // k=40: the ADC shortlist is the SHORTLIST stage (a deployment
    // re-ranks it exactly); with ksub=16 spec-scale codebooks on the
    // anisotropic fixture the twins land in the top-40, not the top-20
    // — the re-rank contract, not a correctness bar, sets k here.
    val ids = IvfPqIngest.retrieveGens(spark, dir, Map(0 -> gen1), pv, 3, 40)
      .collect().map(_.getLong(0)).toSet
    val twins = (0 until 5).map(i => 3100L + i).toSet
    assert(twins.subsetOf(ids), s"twins missing under rotated ADC: ${twins -- ids}")
    assert(ids.contains(7L), "probe's own vector missing under rotated ADC")
  }
}
