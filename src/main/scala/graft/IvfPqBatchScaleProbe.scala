package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps
import graft.streaming.IvfPqIngest

/** Scale probe for BATCH retrieval over the live store — both faces:
  * `runMain graft.IvfPqBatchScaleProbe [nVecs] [dfProbes] [seqProbes] [delFrac]`
  * (defaults 1,000,000 / 100,000 / 1,000 / 0.0).
  *
  * Two committed arms (r19 verdict #2 and #6):
  *
  *  - **DF face at knn-graph scale** (`dfProbes` > 0): probes as a
  *    FRAME through [[graft.streaming.IvfPqIngest.retrieveBatchDf]] —
  *    the regime the Seq face cannot enter (100k+ probes would be a
  *    driver-materialized LUT/dispatch structure). The result is
  *    written to parquet (forced materialization), probes/s reported,
  *    and recall@10 measured for a 100-probe sample: exact brute
  *    cosine truth vs the DF face's ADC top-64 exactly re-ranked —
  *    the full knn pipeline shape.
  *    Run: `IvfPqBatchScaleProbe 1000000 100000 0 0`.
  *  - **Seq decode face under tombstones** (`seqProbes` > 0,
  *    `delFrac` > 0; at ksub 256 and nprobe 16 a batch over 128
  *    probes is past retrieveBatch's LUT bound, so it decodes): the
  *    r19 10M decode measurements ran tombstone-free while
  *    IvfPqDeleteProbe ran at ≤ 1M; this arm
  *    closes the composition gap — decode retrieval at the SAME
  *    corpus, before and after tombstoning `delFrac` of it, must stay
  *    wall-flat (the broadcast anti-join is the only added work),
  *    leak-free, and exactly k-sized per probe.
  *    Run: `IvfPqBatchScaleProbe 10000000 0 1000 0.01`.
  *
  * Store shape = the published IVFADC rule (nlist ≈ √n, ksub 256,
  * M 8), built through the ingest face (processBatch). One JSON line.
  */
object IvfPqBatchScaleProbe {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dfProbes = args.lift(1).map(_.toInt).getOrElse(100000)
    val seqProbes = args.lift(2).map(_.toInt).getOrElse(1000)
    val delFrac = args.lift(3).map(_.toDouble).getOrElse(0.0)
    // Frame-chunk size for the DF arm (0 = one pass). The single-pass
    // shape is RIGHT on a cluster — the partial-top-k sort spills the
    // scored stream across every executor's local disk — but ONE box
    // has one disk: 16B pairs × ~44 B/row of sort spill is hundreds of
    // GB (measured: ENOSPC at 1M×1M on a 79 GB-free box), so a
    // single-box run processes the probe FRAME in bounded chunks, each
    // a full retrieveBatchDf call appended to the same result.
    val dfChunk = args.lift(4).map(_.toInt).getOrElse(0)
    val spark = Sessions.local(appName = "graft-ivfpq-batch-scale-probe")
    import spark.implicits._

    val dim = 64
    val nCenters = 512
    val spread = 0.35
    val nlist = math.max(64, math.round(math.sqrt(nVecs.toDouble)).toInt)
    val nprobe = 16
    val k = 64
    val dir = s"/tmp/graft_ivfpq_batchscale_${nVecs}_${System.nanoTime()}"

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
    def mixture(from: Long, until: Long): DataFrame = {
      val comps = (0 until dim).map { j =>
        element_at(col("ctr"), j + 1) + lit(spread) * gauss(col("vec_id"), j)
      }
      spark.range(from, until)
        .select(col("id").as("vec_id"),
          pmod(xxhash64(concat(lit("ctr"), col("id"))), lit(nCenters))
            .as("cidx"))
        .join(centers, "cidx")
        .select(col("vec_id"), array(comps: _*).as("v"))
    }

    def timed[T](name: String)(f: => T): (T, Double) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[ivfpq-batchscale] $name%-38s $secs%8.2f s")
      (r, secs)
    }

    // ---- corpus + store (through the ingest face) ---------------------
    val (_, corpusWall) = timed(s"corpus write ($nVecs)") {
      mixture(0, nVecs).write.mode("overwrite").parquet(s"$dir/corpus")
    }
    val corpus = spark.read.parquet(s"$dir/corpus")
    val (gen0, trainWall) = timed(s"train nlist=$nlist ksub=256") {
      val c = SimilarityOps.kmCentroids(corpus, nlist, 2)
      val resid = SimilarityOps.ivfPqResiduals(corpus, c)
        .select(col("vec_id"), col("r").as("v"))
      IvfPqIngest.GenStructs(c, SimilarityOps.pqTrain(resid, 8, 256, 2))
    }
    val (_, ingestWall) = timed("ingest (one processBatch)") {
      IvfPqIngest.processBatch(corpus, 0L, dir, gen0.cents, gen0.cb)
    }
    val gens = Map(0 -> gen0)

    // Held-out probe pool: same mixture, ids >= nVecs (never in the
    // corpus, the k-means, or the PQ training).
    val nPool = math.max(seqProbes, 100)

    var json = s"""{"probe":"ivfpq_batch_scale","n_vecs":$nVecs,""" +
      s""""nlist":$nlist,"nprobe":$nprobe,"k":$k,""" +
      s""""build_s":${f"${corpusWall + trainWall + ingestWall}%.2f"}"""

    // ---- Seq decode face, then under tombstones ------------------------
    if (seqProbes > 0) {
      val pool = mixture(nVecs, nVecs + nPool)
        .as[(Long, Array[Double])].collect().sortBy(_._1).toSeq
      val probes = pool.take(seqProbes)
      def decodeArm(tag: String): (Double, Array[(Long, Long)]) = {
        val (rows, wall) = timed(s"retrieveBatch decode [$tag]") {
          IvfPqIngest.retrieveBatch(spark, dir, gens, probes, nprobe, k)
            .select("probe_id", "vec_id").as[(Long, Long)].collect()
        }
        val perProbe = rows.groupBy(_._1).view.mapValues(_.length)
        require(perProbe.size == seqProbes &&
          perProbe.values.forall(_ == k),
          s"[$tag] per-probe result not exactly k=$k for all " +
            s"$seqProbes probes")
        println(f"[ivfpq-batchscale] decode[$tag]: " +
          f"${seqProbes / wall}%.1f probes/s")
        (wall, rows)
      }
      val (baseWall, _) = decodeArm("no-tombstones")
      json += s""","seq_probes":$seqProbes,""" +
        s""""decode_base_s":${f"$baseWall%.2f"},""" +
        s""""decode_base_probes_per_s":${f"${seqProbes / baseWall}%.1f"}"""
      if (delFrac > 0) {
        val nDel = (nVecs * delFrac).toLong
        // Deterministic victims spread across cells: every floor(1/frac)-th id.
        val stride = math.max(1L, (1.0 / delFrac).toLong)
        val (_, delWall) = timed(s"delete $nDel ids (stride $stride)") {
          IvfPqIngest.delete(spark, dir,
            spark.range(0, nVecs, stride).select(col("id").as("vec_id")))
        }
        val victims = (0L until nVecs by stride).toSet
        val (tombWall, rows) = decodeArm(f"${delFrac * 100}%.0f%%-tombstoned")
        require(!rows.exists(r => victims(r._2)),
          "tombstoned ids leaked into the decode shortlist")
        require(tombWall < 1.6 * baseWall,
          f"tombstoned decode wall $tombWall%.1f s not flat vs base " +
            f"$baseWall%.1f s — the anti-join must be the only added work")
        json += s""","del_frac":$delFrac,"n_deleted":${victims.size},""" +
          s""""delete_s":${f"$delWall%.2f"},""" +
          s""""decode_tomb_s":${f"$tombWall%.2f"},""" +
          s""""decode_tomb_probes_per_s":${f"${seqProbes / tombWall}%.1f"}"""
      }
    }

    // ---- DF face at knn-graph scale ------------------------------------
    if (dfProbes > 0) {
      // Spill-aware shuffle sizing (the retrieveBatchDf scaladoc's
      // deployment knob): the local sort below the partial top-k
      // buffers each join-output partition, and the scored-pair volume
      // is dfProbes × nprobe × (n/nlist) — at 1M probes × 1M corpus
      // that is 16B pairs, which over the default 32 partitions means
      // ~50M-row (≈1.5 GB) per-task sorts × 32 concurrent = a heap
      // cliff (measured: OOM at the 8 GB default). ~10M pairs per
      // partition keeps every sort spill-friendly.
      val chunk = if (dfChunk > 0) dfChunk else dfProbes
      val pairs = chunk.toDouble * nprobe * (nVecs.toDouble / nlist)
      val dfParts = math.max(spark.sparkContext.defaultParallelism,
        (pairs / 10e6).ceil.toInt)
      spark.conf.set("spark.sql.shuffle.partitions", dfParts)
      println(s"[ivfpq-batchscale] shuffle partitions for the DF arm: " +
        s"$dfParts (${pairs / 1e9} B pairs per chunk)")
      // The probe FRAME: never collected, never on the driver.
      var dfWall = 0.0
      var outN = 0L
      (nVecs until nVecs + dfProbes by chunk.toLong).zipWithIndex.foreach {
        case (from, ci) =>
          val until = math.min(from + chunk, nVecs + dfProbes)
          val probesDf = mixture(from, until)
            .select(col("vec_id").as("probe_id"), col("v"))
          val mode = if (ci == 0) "overwrite" else "append"
          // row count comes from the post-loop parquet count (the old
          // in-loop accumulation was a dead store — r20 advice #5)
          val (_, w) = timed(
            s"retrieveBatchDf chunk ${ci + 1} (${until - from} probes)") {
            IvfPqIngest.retrieveBatchDf(spark, dir, gens, probesDf, nprobe, k)
              .write.mode(mode).parquet(s"$dir/knn")
            until - from
          }
          dfWall += w
      }
      outN = spark.read.parquet(s"$dir/knn").count()
      require(outN == dfProbes.toLong * k,
        s"expected ${dfProbes.toLong * k} shortlist rows, got $outN")
      println(f"[ivfpq-batchscale] DF face: ${dfProbes / dfWall}%.1f probes/s")

      // Recall@10 for a 100-probe sample: exact brute truth vs the DF
      // shortlist exactly re-ranked — the full knn pipeline shape.
      val sample = mixture(nVecs, nVecs + 100)
        .select(col("vec_id").as("probe_id"), col("v").as("p"))
      val sampleB = broadcast(sample)
      import org.apache.spark.sql.expressions.Window
      val perProbeCos = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val (truth, bruteWall) = timed("brute truth (100-probe sample)") {
        corpus.crossJoin(sampleB)
          .select(col("probe_id"), col("vec_id"),
            expr("cosine_sim(v, p)").as("cos"))
          .filter(!isnan(col("cos")))
          .withColumn("rk", row_number().over(perProbeCos))
          .filter(col("rk") <= 10)
          .select("probe_id", "vec_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      }
      val (got, rerankWall) = timed("exact re-rank of the DF shortlist") {
        spark.read.parquet(s"$dir/knn")
          .join(sampleB, "probe_id") // sample filter + probe vector
          .join(corpus, "vec_id")
          .select(col("probe_id"), col("vec_id"),
            expr("cosine_sim(v, p)").as("cos"))
          .filter(!isnan(col("cos")))
          .withColumn("rk", row_number().over(perProbeCos))
          .filter(col("rk") <= 10)
          .select("probe_id", "vec_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      }
      val recall = truth.keys.toSeq.map { pid =>
        val t = truth(pid)
        t.count(got.getOrElse(pid, Set.empty)).toDouble / t.size
      }.sum / truth.size
      println(f"[ivfpq-batchscale] DF face recall@10 (re-ranked top-$k " +
        f"shortlist): $recall%.4f")
      require(recall >= 0.4,
        f"DF-face recall@10 $recall%.4f below the nprobe=$nprobe/" +
          f"shortlist-$k floor — the frame path is losing candidates")
      json += s""","df_probes":$dfProbes,"df_s":${f"$dfWall%.2f"},""" +
        s""""df_probes_per_s":${f"${dfProbes / dfWall}%.1f"},""" +
        s""""df_recall_at_10":${f"$recall%.4f"},""" +
        s""""brute_s":${f"$bruteWall%.2f"},""" +
        s""""rerank_s":${f"$rerankWall%.2f"}"""
    }

    println(json + "}")
    spark.stop()
    graft.SoakDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
