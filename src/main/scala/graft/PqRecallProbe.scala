package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Non-planted ANN recall probe (round-16 verdict tasks #2 and #5):
  * `runMain graft.PqRecallProbe [nVecs] [nProbes] [batchProbes]`
  * (defaults 1,000,000 / 100 / 1000).
  *
  * The r16 evidence for the PQ family's recall was planted twins — the
  * easy case, where the neighbors sit at cos ≈ 0.998 and any shortlist
  * finds them. This probe measures the knob curve a deployment actually
  * consults:
  *
  *  1. A mixture-of-gaussians corpus (512 true centers, spread 0.35 —
  *     embedding-like cluster structure, nothing planted) and nProbes
  *     HELD-OUT probes drawn from the same mixture (never in the corpus,
  *     never in training). Ground truth = exact brute cosine top-10 per
  *     probe (one distributed pass, WindowGroupLimit partial top-k).
  *  2. IVF-PQ (nlist = round(√n) — the published IVFADC shape; ksub=256,
  *     M=8) swept over nprobe ∈ {1,2,4,8,16} × shortlist ∈
  *     {16,64,256,1024,4096}: recall@10 averaged over probes + wall per
  *     arm. The ADC scan is timed once per nprobe (shortlist only
  *     changes the re-rank), and each arm's re-rank is timed separately
  *     — the published IVFADC trade-off shape (Jégou et al. 2011,
  *     Fig. 5) should emerge: recall rises in shortlist while ADC
  *     ordering noise exceeds true-neighbor margins, and in nprobe while
  *     cells truncate the neighborhood. (The first run of this probe at
  *     nlist=64 taught the nlist lesson the hard way: cells of ~15k
  *     vectors held every probe's whole ~2k-member true cluster, so
  *     recall was FLAT in nprobe and shortlist-bound at 0.43 — correct
  *     IVFADC behavior, wrong knob setting. nlist must be fine enough
  *     that neighborhoods span cells.)
  *  3. The q_pq_knn_join BATCH shape at batchProbes=1000: flat-PQ codes
  *     × a 1000-row broadcast LUT frame, per-probe top-64 through the
  *     WindowGroupLimit partial (PLAN-GUARDED at this probe count — the
  *     registered fixture only exercises 10 probes), exact re-rank to
  *     top-5; reports probes/sec.
  *
  * Everything distributed; the driver holds only centroids, codebooks,
  * probe vectors, and per-probe top-k id lists.
  */
object PqRecallProbe {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nProbes = args.lift(1).map(_.toInt).getOrElse(100)
    val batchProbes = args.lift(2).map(_.toInt).getOrElse(1000)
    // Optional 4th arg `batch` skips the (already-committed) knob sweep
    // and runs only the batch arms — a re-measurement of the batch face
    // shouldn't cost 25 redundant sweep arms.
    val runSweep = !args.lift(3).contains("batch")
    val spark = Sessions.local(appName = "graft-pq-recall-probe")
    import spark.implicits._
    val sc = spark.sparkContext

    val dim = 64
    val nCenters = 512
    val spread = 0.35
    val nlist = math.max(64,
      math.round(math.sqrt(nVecs.toDouble)).toInt) // √n, the published rule
    val ksub = 256
    val nSub = 8
    val vdir = s"/tmp/graft_pq_recall_$nVecs"

    def unif(c: org.apache.spark.sql.Column, salt: String) =
      (pmod(xxhash64(concat(c, lit(salt))), lit(1000000000L)).cast("double")
        + 0.5) / 1000000000.0
    def gauss(c: org.apache.spark.sql.Column, j: Int) =
      sqrt(lit(-2.0) * log(unif(c, s"_a$j"))) *
        cos(lit(2 * math.Pi) * unif(c, s"_b$j"))

    // Mixture of gaussians: row id → center h(id) % nCenters; component =
    // center + spread · own-noise. Probes (ids ≥ nVecs) use the SAME
    // formula, so they are same-distribution but held out: their ids never
    // enter the corpus, the coarse k-means, or the PQ training. Centers
    // live in a 512-row broadcast-joined table rather than inline center
    // gaussians per component — inlining doubled the projection to 128
    // gaussian expressions and blew janino's 64 KB method limit (whole
    // generation fell back to interpreted).
    val nPool = math.max(nProbes, batchProbes)
    val centers = broadcast(spark.range(0, nCenters)
      .select(col("id").as("cidx"),
        array((0 until dim).map(j =>
          gauss(concat(lit("C"), col("id")), j)): _*).as("ctr")))
    def mixture(n: Long, offset: Long): DataFrame = {
      val comps = (0 until dim).map { j =>
        (element_at(col("ctr"), j + 1)
          + lit(spread) * gauss(col("vec_id"), j)).cast("float")
      }
      spark.range(offset, offset + n)
        .select(col("id").as("vec_id"),
          pmod(xxhash64(concat(lit("ctr"), col("id"))), lit(nCenters))
            .as("cidx"))
        .join(centers, "cidx")
        .select(col("vec_id"), array(comps: _*).as("embedding"),
          lit(0).as("label"))
    }
    mixture(nVecs, 0)
      .write.mode("overwrite").parquet(s"$vdir/embeddings.parquet")
    val probePool: Array[(Long, Array[Double])] = mixture(nPool, nVecs)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    println(s"[pq-recall] corpus: $nVecs vectors (${nCenters}-center " +
      s"mixture, spread $spread) + $nPool held-out probes at $vdir")

    val corpus = spark.read.parquet(s"$vdir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))

    def timed[T](name: String)(f: => T): (T, Double) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[pq-recall] $name%-34s $secs%8.2f s")
      (r, secs)
    }

    // ---- Ground truth: exact brute cosine top-10 for the first nProbes
    // held-out probes, as ONE distributed pass (1M × nProbes scored rows
    // through the WindowGroupLimit partial — the q_knn_join plan).
    import org.apache.spark.sql.expressions.Window
    val sweepProbes = probePool.take(nProbes)
    val probeDf = broadcast(
      spark.createDataFrame(sweepProbes.toSeq).toDF("probe_id", "p"))
    val perProbeCos = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val (truth, bruteWall) = timed(s"brute_exact ($nProbes probes)") {
      corpus.crossJoin(probeDf)
        .select(col("probe_id"), col("vec_id"),
          expr("cosine_sim(v, p)").as("cos"))
        .filter(!isnan(col("cos")))
        .withColumn("rk", row_number().over(perProbeCos))
        .filter(col("rk") <= 10)
        .select("probe_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    }

    // ---- IVF-PQ build at the shipped shape (once; all arms share it).
    import graft.operators.SimilarityOps
    val (cents, centWall) = timed(s"ivfpq_coarse_train nlist=$nlist") {
      SimilarityOps.kmCentroids(corpus, nlist, 2)
    }
    val (cb, pqWall) = timed(s"ivfpq_pq_train ksub=$ksub") {
      val resid = SimilarityOps.ivfPqResiduals(corpus, cents)
        .select(col("vec_id"), col("r").as("v"))
      SimilarityOps.pqTrain(resid, nSub, ksub, 2)
    }
    val (_, encWall) = timed("ivfpq_encode (partitionBy cid)") {
      SimilarityOps.ivfPqEncode(corpus, cents, cb)
        .select("vec_id", "cid", "code")
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$vdir/ivfpqcodes")
    }
    val codes = spark.read.parquet(s"$vdir/ivfpqcodes")

    // ---- The sweep. Per nprobe: ONE ADC scan builds each probe's
    // maximum-shortlist (top-`maxShort`) ADC candidate list; smaller
    // shortlists are its prefixes, so only the re-rank is re-run per
    // shortlist arm — exactly how a deployment would tune (the scan cost
    // depends on nprobe alone).
    val shortlists = Seq(16, 64, 256, 1024, 4096)
    val maxShort = shortlists.max
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Double, Double, Double)] // nprobe, short, recall, scanW, rerankW
    for (nprobe <- Seq(1, 2, 4, 8, 16) if runSweep) {
      val lutRows = sweepProbes.flatMap { case (pid, pv) =>
        SimilarityOps.ivfPqProbedCells(cents, pv, nprobe).map { case (cid, c) =>
          (pid, cid,
            SimilarityOps.pqLut(cb, Array.tabulate(pv.length)(j => pv(j) - c(j))))
        }
      }
      val lutDf = broadcast(
        spark.createDataFrame(lutRows.toSeq).toDF("probe_id", "cid", "lut"))
      val perProbeAdc = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc").asc, col("vec_id"))
      val (cand, scanWall) = timed(f"adc_scan nprobe=$nprobe%-2d (top-$maxShort)") {
        codes.join(lutDf, "cid") // inner join = per-probe nprobe cell filter
          .select(col("probe_id"), col("vec_id"),
            SimilarityOps.pqAdcColOf(col("lut"), col("code"), ksub, nSub)
              .as("adc"))
          .withColumn("rk", row_number().over(perProbeAdc))
          .filter(col("rk") <= maxShort)
          .select("probe_id", "vec_id", "rk").as[(Long, Long, Int)].collect()
      }
      for (short <- shortlists) {
        val candS = cand.filter(_._3 <= short).map(t => (t._1, t._2))
        val candDf = broadcast(
          spark.createDataFrame(candS.toSeq).toDF("probe_id", "vec_id"))
        val (got, rerankWall) = timed(f"rerank nprobe=$nprobe%-2d short=$short%-3d") {
          candDf.join(corpus, "vec_id")
            .join(probeDf, "probe_id")
            .select(col("probe_id"), col("vec_id"),
              expr("cosine_sim(v, p)").as("cos"))
            .filter(!isnan(col("cos")))
            .withColumn("rk", row_number().over(perProbeCos))
            .filter(col("rk") <= 10)
            .select("probe_id", "vec_id").as[(Long, Long)].collect()
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        }
        val recall = sweepProbes.map { case (pid, _) =>
          val t = truth.getOrElse(pid, Set.empty)
          if (t.isEmpty) 1.0
          else t.count(got.getOrElse(pid, Set.empty)).toDouble / t.size
        }.sum / sweepProbes.length
        println(f"[pq-recall] ARM nprobe=$nprobe%-2d shortlist=$short%-3d " +
          f"recall@10=$recall%.4f scan=$scanWall%.2f s rerank=$rerankWall%.2f s")
        results += ((nprobe, short, recall, scanWall, rerankWall))
      }
    }

    // Sanity floor, not a tuned bar: at the widest arm (enough cells to
    // cover the neighborhood, shortlist larger than the expected
    // same-center cluster ≈ nVecs/nCenters) the structure must be doing
    // its job on non-planted data.
    if (runSweep) {
      val widest = results.filter(r => r._1 == 16 && r._2 == shortlists.max)
        .head._3
      require(widest >= 0.9,
        f"widest arm (nprobe=16, shortlist=${shortlists.max}) recall@10 " +
          f"$widest%.4f < 0.9 — IVF-PQ is broken on non-planted data")
    }

    // ---- Batch retrieval at scale (verdict task #5): q_pq_knn_join's
    // shape with a 1000-probe batch against the 1M corpus. Flat PQ
    // (the registered query's structure), per-probe ADC top-64 through
    // the WindowGroupLimit PARTIAL — guarded here at real batch size —
    // then exact re-rank to top-5.
    val (cbFlat, flatWall) = timed(s"pq_flat_train ksub=$ksub") {
      SimilarityOps.pqTrain(corpus, nSub, ksub, 2)
    }
    val (_, flatEncWall) = timed("pq_flat_encode") {
      SimilarityOps.pqEncode(corpus, cbFlat)
        .select("vec_id", "code")
        .write.mode("overwrite").parquet(s"$vdir/pqcodes")
    }
    val batch = probePool.take(batchProbes)
    val batchProbeDf = broadcast(
      spark.createDataFrame(batch.toSeq).toDF("probe_id", "p"))
    val perProbeAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").asc, col("vec_id"))
    // The codes table is ~11 MB at 1M rows → one input split locally; a
    // 100 TB codes store arrives in thousands of files. Rebalance so the
    // partial top-k runs parallel AND each task's sort stays bounded:
    // partitions scale with the scored-pair volume (corpus × batch),
    // ~30M pairs per task — the 4M-corpus first run pinned the failure
    // mode (fixed 32 partitions → 125M-row per-task window sorts → heap
    // exhaustion in the shared local JVM; at 1M the same fixed count was
    // fine). The repartition itself moves only the tiny codes table; the
    // cross product is generated after it, inside each task.
    val batchParts = math.max(spark.sparkContext.defaultParallelism,
      (nVecs.toDouble * batchProbes / 30e6).ceil.toInt)

    /** One batch arm: per-chunk shortlist scan (plan-guarded on the
      * first chunk), one exact re-rank over the union, recall@10 over
      * the `truth`-covered probes (the first nProbes of the batch draw
      * from the same pool). Chunking exists for the IVF arm's broadcast
      * arithmetic: 1000 probes × nprobe cells × 2048-double LUTs is a
      * ~260 MB frame, far past sane broadcast size, so a deployment
      * ships the probe batch in bounded chunks — walls add, the
      * broadcast stays small. The flat arm runs as one chunk (1000
      * LUTs ≈ 16 MB). */
    def batchArm(name: String, chunkSize: Int,
        mkShort: Seq[(Long, Array[Double])] => DataFrame)
      : (Double, Double, Double, Double) = {
      var scanWall = 0.0
      val shortRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      batch.grouped(chunkSize).zipWithIndex.foreach { case (chunk, i) =>
        val shortDf = mkShort(chunk.toSeq)
        if (i == 0) {
          val planStr = shortDf.queryExecution.executedPlan.toString
          require(planStr.contains("WindowGroupLimit") &&
            planStr.contains("Partial"),
            s"$name batch top-64 lost the WindowGroupLimit partial — the " +
              "shuffle would carry the full scored cross product")
        }
        val (rows, w) = timed(
          s"batch[$name] adc_scan chunk ${i + 1} (${chunk.length} probes)") {
          shortDf.as[(Long, Long)].collect()
        }
        scanWall += w
        shortRows ++= rows
      }
      val shortBatchDf = broadcast(
        spark.createDataFrame(shortRows.toSeq).toDF("probe_id", "vec_id"))
      val (got, rerankWall) = timed(s"batch[$name] rerank (top-10/probe)") {
        shortBatchDf.join(corpus, "vec_id")
          .join(batchProbeDf, "probe_id")
          .select(col("probe_id"), col("vec_id"),
            expr("cosine_sim(v, p)").as("cos"))
          .filter(!isnan(col("cos")))
          .withColumn("rk", row_number().over(perProbeCos))
          .filter(col("rk") <= 10)
          .select("probe_id", "vec_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      }
      // Recall over the probes BOTH measured: sweepProbes have truth,
      // the batch has candidates. With batchProbes < nProbes the
      // uncovered sweep probes would otherwise count as recall 0 and
      // silently deflate the batch figure (r19 advisor).
      val batchIds = batch.iterator.map(_._1).toSet
      val covered = sweepProbes.filter { case (pid, _) => batchIds(pid) }
      require(covered.nonEmpty,
        s"no overlap between the $nProbes truth probes and the " +
          s"$batchProbes batch probes — recall is unmeasurable")
      val recall = covered.map { case (pid, _) =>
        val t = truth.getOrElse(pid, Set.empty)
        if (t.isEmpty) 1.0
        else t.count(got.getOrElse(pid, Set.empty)).toDouble / t.size
      }.sum / covered.length
      val wall = scanWall + rerankWall
      println(f"[pq-recall] batch[$name]: $batchProbes probes × $nVecs " +
        f"corpus = ${batchProbes / wall}%.1f probes/s (scan $scanWall%.2f " +
        f"s + rerank $rerankWall%.2f s) recall@10=$recall%.4f @64")
      (scanWall, rerankWall, batchProbes / wall, recall)
    }

    // Flat-PQ arm: the registered q_pq_knn_join shape — every probe
    // scores every code (corpus × batch pairs; the COST MODEL of the
    // unpruned face, owned since r18).
    val (flatScanW, flatRerankW, flatPps, flatRecall) =
      batchArm("flat", batchProbes, { chunk =>
        val lutDf = broadcast(spark.createDataFrame(
          chunk.map { case (pid, pv) => (pid, SimilarityOps.pqLut(cbFlat, pv)) })
          .toDF("probe_id", "lut"))
        spark.read.parquet(s"$vdir/pqcodes")
          .repartition(batchParts)
          .crossJoin(lutDf)
          .select(col("probe_id"), col("vec_id"),
            SimilarityOps.pqAdcColOf(col("lut"), col("code"), ksub, nSub)
              .as("adc"))
          .withColumn("rk", row_number().over(perProbeAdc))
          .filter(col("rk") <= 64)
          .select("probe_id", "vec_id")
      })

    // IVF-PRUNED arm (r18 verdict #3): the registered q_ivfpq_knn_join
    // shape at real batch size — per-(probe, cell) residual LUTs, the
    // inner join on cid doing each probe's nprobe filter AND its LUT
    // dispatch, so every probe scores ~nprobe/nlist of the corpus
    // (~200× fewer pairs at nlist=3162/nprobe=16) instead of all of it.
    val ivfNprobe = 16
    val (ivfScanW, ivfRerankW, ivfPps, ivfRecall) =
      batchArm("ivf", 250, { chunk =>
        val lutRows = chunk.flatMap { case (pid, pv) =>
          SimilarityOps.ivfPqProbedCells(cents, pv, ivfNprobe).map {
            case (cid, c) =>
              (pid, cid, SimilarityOps.pqLut(cb,
                Array.tabulate(pv.length)(j => pv(j) - c(j))))
          }
        }
        val lutDf = broadcast(
          spark.createDataFrame(lutRows).toDF("probe_id", "cid", "lut"))
        codes.join(lutDf, "cid")
          .select(col("probe_id"), col("vec_id"),
            SimilarityOps.pqAdcColOf(col("lut"), col("code"), ksub, nSub)
              .as("adc"))
          .withColumn("rk", row_number().over(perProbeAdc))
          .filter(col("rk") <= 64)
          .select("probe_id", "vec_id")
      })
    // ONE-PASS decode-side IVF arm (retrieveBatchDf's decode-side ADC
    // shape, r19): the same pruned (probe, cell) pair set as the chunked
    // arm, but the store is read ONCE for the whole batch — probes +
    // structures ride tiny broadcasts and each pair's ADC computes from
    // the decoded code per row (bit-identical fold to the LUT path,
    // spec-pinned). This is the regime answer to the chunked arm's cost
    // model: its 4 full store scans were the fixed cost absorbing the
    // nprobe pruning win.
    val (ivf1ScanW, ivf1RerankW, ivf1Pps, ivf1Recall) =
      batchArm("ivf1p", batchProbes, { chunk =>
        val pairRows = chunk.flatMap { case (pid, pv) =>
          SimilarityOps.ivfPqProbedCells(cents, pv, ivfNprobe).map {
            case (cid, _) => (pid, cid)
          }
        }
        val pairDf = broadcast(
          spark.createDataFrame(pairRows).toDF("probe_id", "cid"))
        val bcP = sc.broadcast(chunk.toMap)
        val bcC = sc.broadcast(cents.toMap)
        val bcB = sc.broadcast(cb)
        codes.join(pairDf, "cid")
          .select(col("probe_id").cast("long"), col("cid").cast("int"),
            col("vec_id").cast("long"), col("code"))
          .as[(Long, Int, Long, Seq[Byte])]
          .mapPartitions { it =>
            val pm = bcP.value
            val cm = bcC.value
            val books = bcB.value
            val ds = books(0)(0).length
            it.map { case (pid, cid, vid, code) =>
              val pg = pm(pid)
              val c = cm(cid)
              var adc = 0.0
              var m = 0
              while (m < books.length) {
                val ce = books(m)(code(m) & 0xFF)
                var dd = 0.0
                var j = 0
                while (j < ds) {
                  val t = (pg(m * ds + j) - c(m * ds + j)) - ce(j)
                  dd += t * t
                  j += 1
                }
                adc += dd
                m += 1
              }
              (pid, vid, adc)
            }
          }
          .toDF("probe_id", "vec_id", "adc")
          .withColumn("rk", row_number().over(perProbeAdc))
          .filter(col("rk") <= 64)
          .select("probe_id", "vec_id")
      })
    val batchScanWall = flatScanW
    val batchRerankWall = flatRerankW
    val probesPerSec = flatPps
    println(f"[pq-recall] batch flat-vs-ivf-vs-ivf1p: $flatPps%.1f -> " +
      f"$ivfPps%.1f -> $ivf1Pps%.1f probes/s at recall@10 " +
      f"$flatRecall%.4f / $ivfRecall%.4f / $ivf1Recall%.4f " +
      "(matched shortlist 64)")

    // One JSON line for COVERAGE.md / the round artifact.
    val arms = results.map { case (np, sl, r, sw, rw) =>
      f"""{"nprobe":$np,"shortlist":$sl,"recall_at_10":$r%.4f,"scan_s":$sw%.2f,"rerank_s":$rw%.2f}"""
    }.mkString("[", ",", "]")
    println(
      s"""{"probe":"pq_recall","n_vecs":$nVecs,"n_probes":$nProbes,""" +
        s""""nlist":$nlist,"ksub":$ksub,"brute_s":${f"$bruteWall%.2f"},""" +
        s""""build_s":${f"${centWall + pqWall + encWall}%.2f"},"arms":$arms,""" +
        s""""batch_probes":$batchProbes,"batch_scan_s":${f"$batchScanWall%.2f"},""" +
        s""""batch_rerank_s":${f"$batchRerankWall%.2f"},""" +
        s""""batch_probes_per_s":${f"$probesPerSec%.1f"},""" +
        s""""batch_recall_at_10":${f"$flatRecall%.4f"},""" +
        s""""batch_ivf_nprobe":$ivfNprobe,""" +
        s""""batch_ivf_scan_s":${f"$ivfScanW%.2f"},""" +
        s""""batch_ivf_rerank_s":${f"$ivfRerankW%.2f"},""" +
        s""""batch_ivf_probes_per_s":${f"$ivfPps%.1f"},""" +
        s""""batch_ivf_recall_at_10":${f"$ivfRecall%.4f"},""" +
        s""""batch_ivf1p_scan_s":${f"$ivf1ScanW%.2f"},""" +
        s""""batch_ivf1p_rerank_s":${f"$ivf1RerankW%.2f"},""" +
        s""""batch_ivf1p_probes_per_s":${f"$ivf1Pps%.1f"},""" +
        s""""batch_ivf1p_recall_at_10":${f"$ivf1Recall%.4f"},""" +
        s""""flat_train_s":${f"$flatWall%.2f"},"flat_encode_s":${f"$flatEncWall%.2f"}}""")
    spark.stop()
    // The corpus + code stores are per-run scratch (~1 GB at 4M, ~2.5 GB
    // at 10M) — delete them like IvfPqIngestProbe does, instead of
    // accumulating fixed-name dirs under /tmp (r17 advisor).
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    rmTree(java.nio.file.Paths.get(vdir))
  }
}
