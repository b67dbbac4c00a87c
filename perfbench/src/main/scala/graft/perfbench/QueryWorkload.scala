package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.Tables
import graft.operators._

/** The two query workloads: a closed loop with one client running a fixed
  * list of registered queries, each materialized to the `noop` sink with
  * the cache cleared first (graft.Bench's timed action), in an order the
  * seed permutes.
  *
  * Set-up runs one untimed pass that collects each query's rows and checks
  * them against the recorded fingerprint; that pass is also the table and
  * code-generation warm-up. The timed window is a fixed number of passes,
  * `--seconds` over the workload's nominal pass length, so both sides of an
  * A/B time the same work however fast they run. A traced run alternates
  * untraced and traced passes (U T U ...), so the tracing overhead is
  * measured inside the run, against the untraced pass that follows.
  */
object QueryWorkload {
  final case class Spec(nominalPassS: Double, modules: Seq[(String, Seq[String])]) {
    /** Timed passes for a `seconds` window: fixed by the arguments alone. */
    def passes(seconds: Int): Int = math.max(1, math.round(seconds / nominalPassS).toInt)
  }

  /** One costly query of every relational module; q_winsorize is the
    * slowest query of the full bench. */
  val Relational: Spec = Spec(10.0, Seq(
    "AggOps" -> Seq("q_winsorize"),
    "JoinOps" -> Seq("q_star_revenue"),
    "WindowOps" -> Seq("q_window_ntile"),
    "DataflowOps" -> Seq("q_sessionize"),
    "ScalarOps" -> Seq("q_scalar_math"),
    "SetOps" -> Seq("q_upsert_merge"),
    "SqlOps" -> Seq("q_sql_lateral_top1")))

  /** Every LLM-pipeline module; SimilarityOps carries the quantizer
    * training (q_opq_encode) and the two heaviest dedups, TextOps its
    * tokenize + TF/IDF path. */
  val LlmPipeline: Spec = Spec(10.0, Seq(
    "SimilarityOps" -> Seq("q_opq_encode", "q_containment_dedup", "q_cluster_dedup"),
    "TextOps" -> Seq("q_bm25_top_terms"),
    "VectorOps" -> Seq("q_embed_quantize"),
    "MediaOps" -> Seq("q_multimodal_meta"),
    "ExtensionOps" -> Seq("q_sample_per_group")))

  val moduleQueries: Map[String, Map[String, Tables.Q]] = Map(
    "AggOps" -> AggOps.queries, "JoinOps" -> JoinOps.queries,
    "WindowOps" -> WindowOps.queries, "DataflowOps" -> DataflowOps.queries,
    "ScalarOps" -> ScalarOps.queries, "SetOps" -> SetOps.queries,
    "SqlOps" -> SqlOps.queries, "SimilarityOps" -> SimilarityOps.queries,
    "TextOps" -> TextOps.queries, "VectorOps" -> VectorOps.queries,
    "MediaOps" -> MediaOps.queries, "ExtensionOps" -> ExtensionOps.queries)

  /** Queries whose own wall (and driver gap) is a per-layer metric. */
  val NamedQueries: Seq[(String, Seq[String])] = Seq(
    "q_opq_encode" -> Seq("wall_s", "driver_gap_s"), "q_winsorize" -> Seq("wall_s"),
    "q_containment_dedup" -> Seq("wall_s"), "q_cluster_dedup" -> Seq("wall_s"))

  /** One traced query execution (epoch ms for the job-interval overlap). */
  final case class Exec(module: String, query: String, startMs: Long, endMs: Long,
      wallS: Double, buildS: Double)

  def run(ctx: Ctx, spec: Spec): Outcome = {
    val spark = ctx.spark
    val sf = ctx.fixtures
    val order = new scala.util.Random(ctx.seed).shuffle(queriesOf(spec))
    var attempted = 0L
    var failed = 0L
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      System.err.println(s"[perfbench] $what failed: $e")
    }

    val bootS = ctx.sinceLaunchS
    val checked = check(ctx, order)
    attempted += checked.length
    checked.foreach { case (q, err) => err.foreach(fail(q, _)) }
    val setupS = ctx.sinceLaunchS

    val tracker = new SparkTracker
    val passWall = ArrayBuffer.empty[Double]
    val passCpu = ArrayBuffer.empty[Double]
    val allWalls = ArrayBuffer.empty[Double]
    val latMs = ArrayBuffer.empty[Double]
    val perQuery = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val execs = ArrayBuffer.empty[Exec]
    // traced: U T U (T U)* — every traced pass is followed by an untraced one
    val nPasses = if (ctx.trace) 2 * math.max(1, spec.passes(ctx.seconds) / 2) + 1
      else spec.passes(ctx.seconds)
    for (pass <- 0 until nPasses) {
      val traced = ctx.trace && pass % 2 == 1
      if (traced) { spark.sparkContext.addSparkListener(tracker); Trace.enabled = true }
      val w0 = System.nanoTime()
      val c0 = Main.cpuNs()
      order.foreach { case (m, q) =>
        spark.catalog.clearCache()
        attempted += 1
        val fn = moduleQueries(m)(q)
        val a = System.nanoTime()
        try {
          if (traced) {
            val startMs = System.currentTimeMillis()
            var buildS = 0.0
            SparkTracker.tagged(spark, s"$m/$q") {
              Trace.span(s"$m:$q") {
                val b = System.nanoTime()
                val df = Trace.span(s"$m.queries")(fn(spark, sf))
                buildS = (System.nanoTime() - b) / 1e9
                Trace.span("noop.save")(df.write.format("noop").mode("overwrite").save())
              }
            }
            execs += Exec(m, q, startMs, System.currentTimeMillis(),
              (System.nanoTime() - a) / 1e9, buildS)
          } else {
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            val ms = (System.nanoTime() - a) / 1e6
            latMs += ms
            perQuery.getOrElseUpdate(q, ArrayBuffer.empty) += ms
          }
        } catch { case e: Exception => fail(q, e) }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      allWalls += wall
      if (traced) {
        SparkTracker.drain(spark)
        spark.sparkContext.removeSparkListener(tracker)
        Trace.enabled = false
      } else {
        passWall += wall
        passCpu += (Main.cpuNs() - c0) / 1e9
      }
    }
    spark.catalog.clearCache()

    val layers =
      if (!ctx.trace) Nil
      else {
        // each traced pass against the untraced pass after it: that one is
        // warmer, so the difference errs on the side of more overhead
        val over = allWalls.indices.filter(_ % 2 == 1).map(i => allWalls(i) - allWalls(i + 1))
        moduleLayers(spec, execs.toSeq, tracker, over.length, ctx.cores) :+
          Metric("trace.overhead_ms", Stats.median(over) * 1000, "ms")
      }
    val lat = Stats.summary(latMs.toSeq)
    Outcome(attempted, failed, setupS,
      Seq(
        Metric("work_s", Stats.median(passWall.toSeq), "s"),
        Metric("cpu_s", Stats.median(passCpu.toSeq), "s"),
        // a handful of unlike queries: their geometric mean is steadier than
        // whichever one lands in the middle
        Metric("latency_ms", Stats.geomean(latMs.toSeq), "ms")),
      Seq(
        Metric("pass_s", Stats.median(passWall.toSeq), "s"),
        Metric("pass_cpu_s", Stats.median(passCpu.toSeq), "s")),
      layers,
      Seq(
        "setup_phases_s" -> Json.obj(Seq("boot" -> Json.num(bootS),
          "check_pass" -> Json.num(setupS - bootS))),
        "passes" -> passWall.length.toString,
        "pass_walls_s" -> passWall.map(Json.num).mkString("[", ",", "]"),
        "pass_cpus_s" -> passCpu.map(Json.num).mkString("[", ",", "]"),
        "queries" -> order.length.toString,
        "query_latency_ms" -> lat.json,
        "query_median_ms" -> Json.obj(perQuery.toSeq.sortBy(_._1)
          .map { case (q, xs) => q -> Json.num(Stats.median(xs.toSeq)) })))
  }

  /** Untimed check pass: each query's rows against its recorded
    * fingerprint, in `order`. One entry per query, with its failure. */
  def check(ctx: Ctx, order: Seq[(String, String)]): Seq[(String, Option[Throwable])] = {
    val expected = Expected.load(ctx.bench.resolve("expected/fingerprints.json"))
    order.map { case (m, q) =>
      ctx.spark.catalog.clearCache()
      q -> (try {
        val got = Fingerprint.of(moduleQueries(m)(q)(ctx.spark, ctx.fixtures))
        if (expected.get(q).contains(got)) None
        else Some(new IllegalStateException(s"output check: got $got, expected ${expected.get(q)}"))
      } catch { case e: Exception => Some(e) })
    }
  }

  def queriesOf(spec: Spec): Seq[(String, String)] =
    spec.modules.flatMap { case (m, qs) => qs.map(m -> _) }

  /** Per-module metrics, averaged over the traced passes. */
  def moduleLayers(spec: Spec, execs: Seq[Exec], tracker: SparkTracker,
      nPasses: Int, cores: Int): Seq[Metric] = {
    val n = math.max(1, nPasses).toDouble
    def gapS(e: Exec): Double = {
      val jobs = tracker.get(s"${e.module}/${e.query}")
        .map(a => a.synchronized(a.jobIntervals.toSeq)).getOrElse(Nil)
      (e.endMs - e.startMs - Trace.covered(jobs, e.startMs, e.endMs)) / 1000.0
    }
    val perModule = spec.modules.flatMap { case (m, qs) =>
      val es = execs.filter(_.module == m)
      val accs = qs.flatMap(q => tracker.get(s"$m/$q"))
      val inJobS = accs.map(a => Trace.covered(a.jobIntervals.toSeq, Long.MinValue,
        Long.MaxValue)).sum / 1000.0
      val taskRunS = accs.map(_.taskRunMs).sum / 1000.0
      Seq(
        Metric(s"$m.wall_s", es.map(_.wallS).sum / n, "s"),
        Metric(s"$m.build_s", es.map(_.buildS).sum / n, "s"),
        Metric(s"$m.jobs", accs.map(_.jobs).sum / n, "count"),
        Metric(s"$m.driver_gap_s", es.map(gapS).sum / n, "s"),
        Metric(s"$m.task_cpu_s", accs.map(_.taskCpuNs).sum / 1e9 / n, "s"),
        Metric(s"$m.shuffle_bytes", accs.map(_.shuffleWriteBytes).sum / n, "bytes"),
        Metric(s"$m.slot_busy_share",
          if (inJobS > 0) taskRunS / (inJobS * cores) else 0.0, "ratio"))
    }
    val named = NamedQueries.flatMap { case (q, stats) =>
      val es = execs.filter(_.query == q)
      if (es.isEmpty) Nil
      else stats.map { stat =>
        Metric(s"$q.$stat", (if (stat == "wall_s") es.map(_.wallS).sum
          else es.map(gapS).sum) / n, "s")
      }
    }
    perModule ++ named
  }
}

/** Recorded fingerprints: `expected/fingerprints.json`, one entry per
  * registered query, `{"q": {"rows": n, "sha256": "..."}}`. */
object Expected {
  def load(path: java.nio.file.Path): Map[String, Fingerprint.Print] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    root.properties().asScala.map { e =>
      e.getKey -> Fingerprint.Print(e.getValue.get("rows").asLong(),
        e.getValue.get("sha256").asText())
    }.toMap
  }
}
