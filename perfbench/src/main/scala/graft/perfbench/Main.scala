package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. `launchMs` is the epoch
  * time the launcher started this JVM, the zero of `setup_s`. */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    bench: Path,
    work: Path,
    launchMs: Long,
    cores: Int) {
  def fixtures: String = bench.resolve("fixtures/sf0.01").toString
  def sinceLaunchS: Double = (System.currentTimeMillis() - launchMs) / 1000.0
}

/** What one workload run produced. `endToEnd` holds every end-to-end
  * metric but `setup_s` and `heap_after_gc_mb` (the harness adds those);
  * `named` the workload's own end-to-end metrics under their own names
  * (the harness adds `setup_s`, `fail_ratio` and `peak_rss_mb`); `layers`
  * the workload's per-layer metrics (traced runs); `detail` any other
  * output for the detail line. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    setupS: Double,
    endToEnd: Seq[Metric],
    named: Seq[Metric],
    layers: Seq[Metric],
    detail: Seq[(String, String)])

/** Benchmark entry point, launched by `perfbench/run.py`:
  * `Main <workload> <seed> <seconds> <trace 0|1> <benchDir> <workDir> <launchMs> <sourceId>`.
  * Prints a provenance line, a detail line and, last, the result line,
  * each prefixed so the launcher can pick them out of Spark's noise. */
object Main {
  val Cores = 4

  def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Largest heap occupancy any garbage collection left behind, in MB:
    * the live set plus garbage not yet reclaimed, sampled at each GC. It
    * follows what the program retains, where the resident set mostly
    * follows how far the collector has grown the heap. */
  object HeapAfterGc {
    @volatile private var peak = 0L
    def install(): Unit = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala
                .map(_.getUsed).sum
              synchronized { if (used > peak) peak = used }
            }
          }, null, null)
        case _ => ()
      }
    }
    def peakMb: Double = peak / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Self time per span name over the whole traced run, in seconds. */
  def spanSelf(traced: Boolean): Seq[(String, String)] =
    if (!traced) Nil
    else {
      val spans = Trace.recorded
      val self = Trace.selfTimes(spans)
      Seq("span_self_s" -> Json.obj(spans.groupBy(_.name).toSeq.sortBy(_._1).map {
        case (n, ss) => n -> Json.num(ss.map(x => self(x.id)).sum / 1e9)
      }))
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 8, s"expected 8 arguments, got ${args.length}")
    val Array(workload, seedS, secondsS, traceS, benchS, workS, launchS, sourceId) = args
    HeapAfterGc.install()
    val bench = Paths.get(benchS).toAbsolutePath
    val work = Paths.get(workS).toAbsolutePath
    // The streaming workloads run concurrent queries (two chained stages;
    // ingest beside retrieval) and share slots fairly, as ChainSoak does;
    // the query workloads keep graft.Bench's FIFO session.
    val fair =
      if (Set("wire-chain", "ivfpq-store")(workload)) Map("spark.scheduler.mode" -> "FAIR")
      else Map.empty[String, String]
    val spark = graft.Sessions.local(Cores.toString, s"perfbench-$workload", Map(
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.local.dir" -> work.resolve("spark-local").toString) ++ fair)
    val ctx = Ctx(spark, workload, seedS.toLong, secondsS.toInt, traceS == "1",
      bench, work, launchS.toLong, Cores)
    Trace.runId = s"$workload-$seedS-${if (ctx.trace) "traced" else "untraced"}"
    val out =
      try workload match {
        case "cds-warmup" =>
          // loads the classes every workload uses, for the class-data
          // archive the launcher dumps at build time; prints nothing
          Seq(QueryWorkload.Relational, QueryWorkload.LlmPipeline)
            .foreach(s => QueryWorkload.check(ctx, QueryWorkload.queriesOf(s)))
          WireChain.run(ctx.copy(work = work.resolve("wire")))
          IvfPqStore.run(ctx.copy(work = work.resolve("ivfpq")))
          spark.stop()
          return
        case "relational" => QueryWorkload.run(ctx, QueryWorkload.Relational)
        case "llm-pipeline" => QueryWorkload.run(ctx, QueryWorkload.LlmPipeline)
        case "wire-chain" => WireChain.run(ctx)
        case "ivfpq-store" => IvfPqStore.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          sys.exit(3)
      }
    val rss = peakRssMb()
    if (ctx.trace) Trace.write(work.resolve("spans.jsonl"))
    val provenance = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seedS,
      "seconds" -> secondsS,
      "trace" -> Json.str(traceS),
      "cpus" -> Cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "box_cal" -> Json.num(graft.Bench.boxCal()),
      "source" -> Json.str(sourceId),
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
      "spark" -> Json.str(spark.version),
      "fixtures" -> Provenance.fixtureLayout(spark, ctx.fixtures)))
    val endToEnd = Metric("setup_s", out.setupS, "s") +: out.endToEnd :+
      Metric("heap_after_gc_mb", HeapAfterGc.peakMb, "MB")
    val metrics =
      if (ctx.trace) Layers.complete(out.layers, Layers.load(bench.getParent.resolve("BENCHMARK.json")))
      else endToEnd
    println("PERFBENCH_PROVENANCE " + provenance)
    val named = Seq(Metric("setup_s", out.setupS, "s"),
      Metric("fail_ratio", out.failed.toDouble / math.max(1L, out.attempted), "ratio"),
      Metric("peak_rss_mb", rss, "MB")) ++ out.named
    println("PERFBENCH_DETAIL " + Json.obj(Seq("metrics" -> Json.metrics(named)) ++
      out.detail ++ spanSelf(ctx.trace)))
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.metrics(metrics))))
    spark.stop()
  }
}
