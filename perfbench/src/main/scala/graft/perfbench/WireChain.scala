package graft.perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{BrokerSink, MiniBroker, SocketEventSource, StreamOps}

/** The reference topology on the wire: knob updates published to a
  * [[MiniBroker]] topic `in` → [[SocketEventSource]] → [[StreamOps.flood]]
  * → [[BrokerSink]] → topic `units` → [[SocketEventSource]] →
  * [[StreamOps.windowedCounts]], two streaming queries in FAIR pools,
  * one lease pair per stage (4 FETCH leases).
  *
  * Phase 1 is an open loop: one generator thread publishes seeded updates
  * (`n` = 1..10 over 5 knobs) at a fixed rate, each stamped with the time it
  * was due, for `--seconds`. Phase 2 publishes a seeded backlog at once and
  * times its drain. A trailing update far in event time closes every
  * window, so the mapper's emitted per-knob totals can be checked against
  * the generator's.
  */
object WireChain {
  val Rate = 20000 // updates per second in phase 1 (≈ 110k units/s)
  val WarmupS = 2
  val Backlog = 200000 // phase-2 updates
  val Knobs = 5
  val Leases = 2 // per stage
  val SentinelKnob = 99L

  final case class Progress(name: String, batchId: Long, rows: Long, end: Long,
      startMs: Long, durations: Map[String, Long], stateRows: Long, stateCommitMs: Long) {
    def commitMs: Double = startMs + durations.getOrElse("triggerExecution", 0L).toDouble
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources).filter(_.nonEmpty).flatMap(s => Option(s(0).endOffset))
      .map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    Trace.enabled = ctx.trace
    val rnd = new scala.util.Random(ctx.seed)
    val broker = new MiniBroker()
    val port = Trace.span("MiniBroker.start")(broker.start())
    val progress = new ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = Option(p.stateOperators).filter(_.nonEmpty).map(_(0))
        progress.add(Progress(p.name, p.batchId, p.numInputRows, endOffset(p),
          Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          st.map(_.numRowsTotal).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L)))
      }
    }
    spark.streams.addListener(listener)

    // generator-side ledger: per update, its input-topic seq, due time, fan-out
    val seqs = ArrayBuffer.empty[Long]
    val dues = ArrayBuffer.empty[Double]
    val ns = ArrayBuffer.empty[Long]
    val knobUnits = new Array[Long](Knobs)
    var lastInSeq = 0L
    def publish(knob: Long, n: Long, dueMs: Double): Unit = {
      val tsUs = (dueMs * 1000).toLong
      lastInSeq = broker.publish("in", s"""{"id":$knob,"n":$n,"ts_us":$tsUs}""")
      seqs += lastInSeq; dues += dueMs; ns += n
      if (knob < Knobs) knobUnits(knob.toInt) += n
    }
    def nextUpdate(): (Long, Long) = (rnd.nextInt(Knobs).toLong, 1L + rnd.nextInt(10))
    def unitsPublished: Long = ns.sum

    val windows = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "flood")
    val flood = Trace.span("BrokerSink.publishTo") {
      BrokerSink.publishTo("127.0.0.1", port, "units")(StreamOps.flood(
        Trace.span("SocketEventSource.stream")(new SocketEventSource("127.0.0.1", port, "in",
          "flood-sub", maxRowsPerBatch = 60000L, numPartitions = Leases).stream(spark))))
    }.queryName("flood").option("checkpointLocation", ctx.work.resolve("ckpt-flood").toString)
      .start()
    sc.setLocalProperty("spark.scheduler.pool", "mapper")
    val mapper = Trace.span("StreamOps.windowedCounts") {
      StreamOps.windowedCounts(Trace.span("SocketEventSource.stream")(
        new SocketEventSource("127.0.0.1", port, "units", "mapper-sub",
          maxRowsPerBatch = 2000000L, numPartitions = Leases).stream(spark)))
    }.writeStream.queryName("mapper").outputMode("append")
      .option("checkpointLocation", ctx.work.resolve("ckpt-mapper").toString)
      .foreachBatch { (df: Dataset[(java.sql.Timestamp, Long, Long)], _: Long) =>
        val rows = df.toDF().collect()
        windows.synchronized(rows.foreach { r: Row =>
          windows((r.getTimestamp(0).getTime, r.getLong(1))) = r.getLong(2)
        })
      }.start()
    sc.setLocalProperty("spark.scheduler.pool", null)

    def mapperConsumed: Long =
      progress.asScala.filter(_.name == "mapper").map(_.rows).sum
    def awaitConsumed(target: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (mapperConsumed < target && System.nanoTime() < deadline &&
        flood.exception.isEmpty && mapper.exception.isEmpty) Thread.sleep(20)
      mapperConsumed >= target
    }

    // Warm-up window at the phase-1 rate, then drained, inside set-up.
    val late = ArrayBuffer.empty[Double]
    val publishUs = ArrayBuffer.empty[Double]
    val backlogIn = ArrayBuffer.empty[Long]
    val backlogUnits = ArrayBuffer.empty[Long]
    def unitsHead: Long = broker.trimmedBelow("units") + broker.retainedCount("units")
    /** Open-loop generation at [[Rate]] for `secs`; returns the index range. */
    def generate(secs: Int, measure: Boolean, slotTraced: Long => Boolean): Range = {
      val from = seqs.length
      val total = secs.toLong * Rate
      val startMs = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      var i = 0L
      var lastSample = 0L
      while (i < total) {
        val nowNs = System.nanoTime() - t0
        val due = math.min(total, nowNs * Rate / 1000000000L + 1)
        if (i < due) {
          val slot = (i / Rate) / 2
          val traced = slotTraced(slot)
          Trace.enabled = traced
          Trace.span("MiniBroker.publish") {
            while (i < due) {
              val dueMs = startMs + i * 1000.0 / Rate
              val (k, n) = nextUpdate()
              // per-publish cost goes to a histogram, not a span each
              if (traced) {
                val a = System.nanoTime()
                publish(k, n, dueMs)
                publishUs += (System.nanoTime() - a) / 1e3
              } else publish(k, n, dueMs)
              if (measure) late += System.currentTimeMillis() - dueMs
              i += 1
            }
          }
        } else Thread.sleep(0, 200000)
        if (measure && nowNs - lastSample > 100000000L) {
          lastSample = nowNs
          Trace.span("MiniBroker.ackedSeq") {
            backlogIn += lastInSeq - broker.ackedSeq("in", "flood-sub")
            backlogUnits += unitsHead - broker.ackedSeq("units", "mapper-sub")
          }
        }
      }
      Trace.enabled = false
      from until seqs.length
    }

    generate(WarmupS, measure = false, _ => false)
    val warmOk = awaitConsumed(unitsPublished, 60)
    val setupS = ctx.sinceLaunchS

    val tracker = new SparkTracker
    if (ctx.trace) sc.addSparkListener(tracker)
    val cpu0 = Main.cpuNs()
    val phase1 = generate(ctx.seconds, measure = true, slot => ctx.trace && slot % 2 == 1)
    val phase1Units = phase1.map(ns(_)).sum
    val cpu1 = Main.cpuNs()
    val tailOk = awaitConsumed(unitsPublished, 60)

    // Phase 2: the backlog, published at once, timed to the mapper commit
    // that covers its last unit.
    val drainFrom = seqs.length
    val pubMs = System.currentTimeMillis().toDouble
    Trace.enabled = ctx.trace
    Trace.span("MiniBroker.publish.backlog") {
      (0 until Backlog).foreach { _ => val (k, n) = nextUpdate(); publish(k, n, pubMs) }
    }
    Trace.enabled = false
    val drainUnits = (drainFrom until seqs.length).map(ns(_)).sum
    val drainOk = awaitConsumed(unitsPublished, 90)
    val drainTarget = unitsPublished

    // Close every window: one unit far ahead in event time moves the
    // watermark past all of them.
    publish(SentinelKnob, 1L, System.currentTimeMillis() + 3600000.0)
    val sentinelOk = awaitConsumed(unitsPublished, 30)
    val windowsDeadline = System.nanoTime() + 30000000000L
    def mapperTotals: Array[Long] = windows.synchronized {
      val t = new Array[Long](Knobs)
      windows.foreach { case ((_, id), v) => if (id < Knobs) t(id.toInt) += v }
      t
    }
    while (!mapperTotals.sameElements(knobUnits) && System.nanoTime() < windowsDeadline &&
      mapper.exception.isEmpty) Thread.sleep(50)

    SparkTracker.drain(spark)
    flood.stop(); mapper.stop()
    val streamErrors = Seq(flood.exception, mapper.exception).count(_.isDefined)
    Seq(flood.exception, mapper.exception).flatten
      .foreach(e => System.err.println(s"[perfbench] stream failed: $e"))
    SparkTracker.drain(spark)
    spark.streams.removeListener(listener)
    if (ctx.trace) sc.removeSparkListener(tracker)
    val fetched = (0 until Leases).map(s =>
      Trace.span("MiniBroker.fetchedRows")(broker.fetchedRows("units", s)).toDouble)
    broker.stop()

    // --- correctness -------------------------------------------------
    val consumed = mapperConsumed
    val generated = unitsPublished
    val lost = math.max(0L, generated - consumed)
    val dupExcess = math.max(0L, consumed - generated)
    val totals = mapperTotals
    val knobMismatches = (0 until Knobs).count(k => totals(k) != knobUnits(k))
    val floodRows = progress.asScala.filter(_.name == "flood").map(_.rows).sum
    val failed = lost + dupExcess + knobMismatches + streamErrors +
      math.abs(floodRows - seqs.length) +
      Seq(warmOk, tailOk, drainOk, sentinelOk).count(!_)
    if (failed > 0) System.err.println(s"[perfbench] wire-chain check: generated=$generated " +
      s"consumed=$consumed knobs=${knobUnits.mkString(",")} mapper=${totals.mkString(",")} " +
      s"floodRows=$floodRows updates=${seqs.length}")

    // --- latency -----------------------------------------------------
    val all = progress.asScala.toSeq
    def batches(name: String) = all.filter(p => p.name == name && p.rows > 0).sortBy(_.batchId)
    val floodB = batches("flood")
    val mapperB = batches("mapper")
    val hops = Latency.eventToCommit(
      seqs.indices.map(i => Latency.Update(seqs(i), dues(i), ns(i))),
      floodB.map(b => Latency.Batch(b.end, b.commitMs)),
      mapperB.map(b => Latency.Batch(b.end, b.commitMs)))
    val p1 = phase1.flatMap(i => hops(i).map(i -> _))
    val total = p1.map(_._2.total)
    val drainEnd = mapperB.find(_.end >= drainTarget).map(_.commitMs)
      .getOrElse(Double.NaN)
    val drainS = (drainEnd - pubMs) / 1000.0
    val lat = Stats.summary(total)
    val cpuPerM = (cpu1 - cpu0) / 1e9 / (phase1Units / 1e6)

    val layers = if (!ctx.trace) Nil else {
      val slotOf = (i: Int) => ((i - phase1.start) / Rate) / 2
      val (on, off) = p1.partition { case (i, _) => slotOf(i) % 2 == 1 }
      def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)
      val timed = all.filter(_.startMs >= pubMs - ctx.seconds * 1000.0 - 1000)
      def stage(name: String): Seq[Metric] = {
        val bs = timed.filter(b => b.name == name && b.rows > 0)
        def d(k: String) = bs.map(_.durations.getOrElse(k, 0L).toDouble)
        Seq(
          Metric(s"$name.batches", bs.size.toDouble, "count"),
          Metric(s"$name.trigger_ms.p50", p(d("triggerExecution"), 50), "ms"),
          Metric(s"$name.add_batch_ms.p50", p(d("addBatch"), 50), "ms"),
          Metric(s"$name.latest_offset_ms.p50", p(d("latestOffset"), 50), "ms"),
          Metric(s"$name.planning_ms.p50", p(d("queryPlanning"), 50), "ms"),
          Metric(s"$name.commit_ms.p50",
            p(bs.map(b => (b.durations.getOrElse("walCommit", 0L) +
              b.durations.getOrElse("commitOffsets", 0L)).toDouble), 50), "ms"),
          Metric(s"$name.rows_per_batch.p50", p(bs.map(_.rows.toDouble), 50), "rows"),
          Metric(s"$name.task_cpu_s",
            tracker.get(name).map(_.taskCpuNs / 1e9).getOrElse(0.0), "s"))
      }
      val mapperTimed = timed.filter(b => b.name == "mapper" && b.rows > 0)
      Seq(
        Metric("gen.late_ms.max", late.maxOption.getOrElse(0.0), "ms"),
        Metric("MiniBroker.publish_us.p50", p(publishUs.toSeq, 50), "us"),
        Metric("MiniBroker.publish_us.p99", p(publishUs.toSeq, 99), "us"),
        Metric("MiniBroker.backlog_in.max", backlogIn.maxOption.getOrElse(0L).toDouble, "msgs"),
        Metric("MiniBroker.backlog_units.max",
          backlogUnits.maxOption.getOrElse(0L).toDouble, "msgs"),
        Metric("hop_flood.latency_ms.p50", p(p1.map(_._2.flood), 50), "ms"),
        Metric("hop_flood.latency_ms.p99", p(p1.map(_._2.flood), 99), "ms"),
        Metric("hop_mapper.latency_ms.p50", p(p1.map(_._2.mapper), 50), "ms"),
        Metric("hop_mapper.latency_ms.p99", p(p1.map(_._2.mapper), 99), "ms")) ++
        stage("flood") ++ stage("mapper") ++ Seq(
          Metric("mapper.state_rows",
            mapperTimed.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "rows"),
          Metric("mapper.state_commit_ms.p50",
            p(mapperTimed.map(_.stateCommitMs.toDouble), 50), "ms"),
          Metric("SocketEventsSource.fetch_skew",
            if (fetched.sum > 0) fetched.max / (fetched.sum / fetched.size) else 0.0, "ratio"),
          Metric("trace.overhead_ms",
            p(on.map(_._2.total), 50) - p(off.map(_._2.total), 50), "ms"))
    }
    Outcome(
      attempted = seqs.length.toLong + floodB.size + mapperB.size,
      failed = failed,
      setupS = setupS,
      endToEnd = Seq(
        Metric("work_s", drainS, "s"),
        Metric("cpu_s", cpuPerM, "s"),
        Metric("latency_ms", lat.median, "ms")),
      named = Seq(
        Metric("latency_p50_ms", lat.median, "ms"),
        Metric("latency_p99_ms",
          if (total.isEmpty) Double.NaN else Stats.percentile(total, 99), "ms"),
        Metric("cpu_s_per_m_units", cpuPerM, "s"),
        Metric("drain_units_per_s", drainUnits / drainS, "units/s")),
      layers = layers,
      detail = Seq(
        "event_to_commit_ms" -> lat.json,
        "drain_units" -> drainUnits.toString,
        "phase1_units" -> phase1Units.toString,
        "units_generated" -> generated.toString,
        "units_consumed" -> consumed.toString,
        "dup_excess" -> dupExcess.toString,
        "gen_late_ms_max" -> Json.num(late.maxOption.getOrElse(0.0))))
  }
}
