package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.IvfPqIngest

/** Writes beside reads on a growing IVF-PQ store.
  *
  * Set-up draws seeded 64-dim mixture vectors, trains generation 0 with
  * [[IvfPqIngest.trainGeneration]] on a bootstrap window and ingests that
  * window. The timed window then runs two closed loops at once: a writer
  * that feeds fixed-size vector batches through the [[IvfPqIngest.start]]
  * stream, one at a time, and a reader that calls
  * [[IvfPqIngest.retrieveBatch]] on a fixed probe batch and then tombstones
  * a seeded 1% of the newest committed batch with [[IvfPqIngest.delete]].
  * Every retrieval is checked against the tombstones already written, and
  * recall 10@100 (the share of the exact top 10 over the live vectors that
  * the 100-long ADC shortlist holds) is computed afterwards, untimed.
  */
object IvfPqStore {
  val Dim = 64
  val Centers = 48
  val Spread = 0.35
  val BootVecs = 4000
  val BatchVecs = 4000
  val Probes = 16
  val K = 100 // shortlist; recall is 10@100
  val RecallAt = 10
  val NList = 32
  val NProbe = 4
  val NSub = 8
  val KSub = 64

  /** A fixed mixture (the corpus model, the same for every seed) sampled
    * with the run's seed: seeds change which vectors arrive, not the
    * shape of the data, so training's rotation choice is the same on all. */
  final class Mixture(seed: Long) {
    private val centers = {
      val r = new java.util.Random(0x6a09e667L)
      Array.fill(Centers, Dim)(r.nextGaussian())
    }
    private val rnd = new java.util.Random(seed)
    def next(): Array[Double] = {
      val c = centers(rnd.nextInt(Centers))
      Array.tabulate(Dim)(j => c(j) + Spread * rnd.nextGaussian())
    }
  }

  def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
    s
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Trace.enabled = ctx.trace
    val mix = new Mixture(ctx.seed)
    val delRnd = new scala.util.Random(ctx.seed ^ 0x5DEECE66DL)
    val vectors = ArrayBuffer.empty[Array[Double]] // index = vec_id
    def draw(n: Int): Seq[(Long, Seq[Double])] = (0 until n).map { _ =>
      val v = mix.next(); vectors += v; ((vectors.length - 1).toLong, v.toSeq)
    }
    val probes = (0 until Probes).map(i => (i.toLong, mix.next()))
    val dir = ctx.work.resolve("ivfpq").toString
    val boot = draw(BootVecs)

    val bootS = ctx.sinceLaunchS
    val trainT0 = System.nanoTime()
    val gen0 = Trace.span("IvfPqIngest.trainGeneration") {
      IvfPqIngest.trainGeneration(
        spark.createDataFrame(boot.map { case (id, v) => (id, v.toArray) }).toDF("vec_id", "v"),
        NList, NSub, KSub, opqSweeps = 1)
    }
    val trainS = (System.nanoTime() - trainT0) / 1e9
    val gens = Map(0 -> gen0)

    val tracker = new SparkTracker
    if (ctx.trace) spark.sparkContext.addSparkListener(tracker)
    val input = MemoryStream[(Long, Seq[Double])]
    val query = SparkTracker.tagged(spark, "ingest") {
      Trace.span("IvfPqIngest.start") {
        IvfPqIngest.start(input.toDF().toDF("vec_id", "v"), dir,
          ctx.work.resolve("ckpt-ivfpq").toString, gen0.cents, gen0.cb, 0, gen0.rot)
      }
    }
    input.addData(boot: _*)
    query.processAllAvailable()
    val ingestedS = ctx.sinceLaunchS
    // one untimed read and delete, so their first-call costs land in set-up
    IvfPqIngest.retrieveBatch(spark, dir, gens, probes, NProbe, K).collect()
    IvfPqIngest.delete(spark, dir, Seq(-1L).toDF("vec_id"))
    Trace.enabled = false
    val setupS = ctx.sinceLaunchS

    // --- timed window: writer and reader side by side -----------------
    val committed = new ConcurrentLinkedQueue[(Long, Long)]() // id ranges [from, until)
    val ingestMs = ArrayBuffer.empty[Double]
    val stop = new AtomicBoolean(false)
    var writerError: Option[Throwable] = None
    val cpu0 = Main.cpuNs()
    val t0 = System.nanoTime()
    val writer = new Thread(() => {
      try while (!stop.get()) {
        val batch = draw(BatchVecs)
        val a = System.nanoTime()
        input.addData(batch: _*)
        query.processAllAvailable()
        ingestMs += (System.nanoTime() - a) / 1e6
        committed.add((batch.head._1, batch.last._1 + 1))
      } catch { case e: Throwable => writerError = Some(e) }
    }, "perfbench-ivfpq-writer")
    writer.start()

    val deleted = scala.collection.mutable.Set.empty[Long]
    var sampledUpTo = BootVecs.toLong
    val retrieveMs = ArrayBuffer.empty[(Boolean, Double)]
    val deleteMs = ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    var step = 0
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val traced = ctx.trace && step % 2 == 1
      Trace.enabled = traced
      attempted += 1
      try {
        val a = System.nanoTime()
        val tag = if (traced) "retrieveBatch" else "untagged"
        val rows = SparkTracker.tagged(spark, tag) {
          Trace.span("IvfPqIngest.retrieveBatch") {
            IvfPqIngest.retrieveBatch(spark, dir, gens, probes, NProbe, K).collect()
          }
        }
        retrieveMs += ((traced, (System.nanoTime() - a) / 1e6))
        val leaked = rows.count(r => deleted(r.getLong(1)))
        if (leaked > 0) {
          failed += 1
          System.err.println(s"[perfbench] $leaked deleted ids retrieved at step $step")
        }
        // tombstone 1% of the newest batches committed since the last step
        val fresh = committed.asScala.filter(_._1 >= sampledUpTo).toSeq
        val victims = fresh.flatMap { case (from, until) =>
          (from until until).filter(_ => delRnd.nextInt(100) == 0)
        }
        fresh.lastOption.foreach(r => sampledUpTo = r._2)
        if (victims.nonEmpty) {
          attempted += 1
          val d = System.nanoTime()
          Trace.span("IvfPqIngest.delete") {
            IvfPqIngest.delete(spark, dir, victims.toDF("vec_id"))
          }
          deleteMs += (System.nanoTime() - d) / 1e6
          deleted ++= victims
        }
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] retrieve/delete step $step failed: $e")
      }
      step += 1
    }
    Trace.enabled = false
    stop.set(true)
    writer.join()
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Main.cpuNs() - cpu0) / 1e9
    SparkTracker.drain(spark)
    query.stop()
    if (ctx.trace) spark.sparkContext.removeSparkListener(tracker)
    writerError.foreach { e =>
      failed += 1
      System.err.println(s"[perfbench] ingest failed: $e")
    }
    query.exception.foreach(_ => failed += 1)
    val nBatches = ingestMs.length
    attempted += nBatches

    // --- untimed checks ----------------------------------------------
    val liveIds = (boot.map(_._1) ++ committed.asScala.toSeq.flatMap { case (f, u) => f until u })
      .filterNot(deleted).toIndexedSeq
    val stored = spark.read.parquet(s"$dir/codes").select("vec_id").as[Long].collect().toSet
    val storedLive = stored.diff(deleted)
    if (storedLive != liveIds.toSet) {
      failed += 1
      System.err.println(s"[perfbench] store holds ${storedLive.size} live ids, expected ${liveIds.size}")
    }
    val finalRows = IvfPqIngest.retrieveBatch(spark, dir, gens, probes, NProbe, K).collect()
    val got = finalRows.groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    if (finalRows.exists(r => deleted(r.getLong(1)))) failed += 1
    val recall = probes.map { case (pid, pv) =>
      val exact = liveIds.sortBy(i => dist2(vectors(i.toInt), pv)).take(RecallAt).toSet
      got.getOrElse(pid, Set.empty[Long]).intersect(exact).size.toDouble / RecallAt
    }.sum / Probes

    val codesBytes = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/codes")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    }
    val untracedRet = retrieveMs.filter(!_._1).map(_._2).toSeq
    val tracedRet = retrieveMs.filter(_._1).map(_._2).toSeq
    val lat = Stats.summary(untracedRet)
    val layers = if (!ctx.trace) Nil else {
      val ret = tracker.get("retrieveBatch")
      val nRet = math.max(1, tracedRet.length)
      val inJobS = ret.map(a => Trace.covered(a.jobIntervals.toSeq, Long.MinValue,
        Long.MaxValue) / 1000.0).getOrElse(0.0)
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      Seq(
        Metric("IvfPqIngest.trainGeneration_s", trainS, "s"),
        Metric("IvfPqIngest.ingest_batch_ms.p50", p50(ingestMs.toSeq), "ms"),
        Metric("IvfPqIngest.ingest.task_cpu_s",
          tracker.get("ingest").map(_.taskCpuNs / 1e9).getOrElse(0.0), "s"),
        Metric("IvfPqIngest.retrieveBatch.jobs", ret.map(_.jobs).getOrElse(0) / nRet.toDouble,
          "count"),
        Metric("IvfPqIngest.retrieveBatch.driver_gap_s",
          (tracedRet.sum / 1000.0 - inJobS) / nRet, "s"),
        Metric("IvfPqIngest.retrieveBatch.bytes_read",
          ret.map(_.bytesRead).getOrElse(0L) / nRet.toDouble, "bytes"),
        Metric("IvfPqIngest.delete_ms.p50", p50(deleteMs.toSeq), "ms"),
        Metric("store.bytes_per_vec", codesBytes.toDouble / math.max(1, stored.size), "bytes"),
        Metric("trace.overhead_ms", p50(tracedRet) - p50(untracedRet), "ms"))
    }
    Outcome(attempted, failed, setupS,
      Seq(
        Metric("work_s", Stats.median(ingestMs.toSeq) / 1000.0, "s"),
        Metric("cpu_s", cpuS / math.max(1, nBatches), "s"),
        Metric("latency_ms", lat.median, "ms")),
      Seq(
        Metric("ingest_vecs_per_s", nBatches * BatchVecs / windowS, "vecs/s"),
        Metric("retrieve_p50_ms", lat.median, "ms"),
        Metric("recall_at_10", recall, "ratio")),
      layers,
      Seq(
        "setup_phases_s" -> Json.obj(Seq("boot" -> Json.num(bootS), "train" -> Json.num(trainS),
          "boot_ingest" -> Json.num(ingestedS - bootS - trainS),
          "first_read" -> Json.num(setupS - ingestedS))),
        "ingest_batch_ms" -> Stats.summary(ingestMs.toSeq).json,
        "retrieve_ms" -> lat.json,
        "rotated" -> gen0.rot.isDefined.toString,
        "batches" -> nBatches.toString,
        "retrievals" -> retrieveMs.length.toString,
        "deleted" -> deleted.size.toString,
        "live_vectors" -> liveIds.size.toString))
  }
}
