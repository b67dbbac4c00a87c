package graft

import org.apache.spark.sql.functions._

/** Scale probe: `runMain graft.ScaleProbe [nDocs] [nVecs]` (defaults
  * 50,000 docs / 100,000 vectors).
  *
  * The fixture `documents`/`embeddings` tables are 500 rows at every sf,
  * so the near-dup and ANN pipelines' scaling behavior is otherwise
  * untested. This main generates (a) an nDocs-corpus (deterministic,
  * hash-derived words, ~60 words/doc) with 1% planted near-duplicates
  * (trigram Jaccard ≈ 0.90) and (b) an nVecs embedding table (hash-seeded
  * Box–Muller gaussians) with 10 planted near-neighbors of the probe
  * vector (cos ≈ 0.998), writes both as fixture-shaped parquet dirs, runs
  * the REAL registered queries against them, and reports wall-times plus
  * recall — near-dup recall on planted pairs, ANN recall@10 against the
  * exact brute-force top-10. Everything — generation included — is
  * distributed DataFrame work; the driver only sees counters and top-k
  * lists.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(50000L)
    val spark = Sessions.local(appName = "graft-scale-probe")
    import spark.implicits._

    val dir = s"/tmp/graft_scale_$nDocs"
    val vocabSize = 500
    val wordsPerDoc = 60

    // base corpus: doc i = 60 hash-derived words over a 500-word vocabulary
    val word = (seed: org.apache.spark.sql.Column) =>
      concat(lit("w"), pmod(xxhash64(seed), lit(vocabSize)))
    val base = spark.range(0, nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until wordsPerDoc).map(j =>
          word(concat(col("id"), lit(s"_$j")))): _*).as("text"))
    // planted near-dups: every 100th doc gets a twin (id + nDocs) equal to
    // it except the last 3 words — trigram Jaccard ≈ 0.90
    val twins = base.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + nDocs).as("doc_id"),
        concat(
          expr(s"substring_index(text, ' ', ${wordsPerDoc - 3})"),
          lit(" zz1 zz2 zz3")).as("text"))
    base.unionByName(twins)
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synth").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val total = nDocs + nDocs / 100
    println(s"[scale-probe] corpus: $total docs at $dir")

    def time(name: String)(f: => Long): Unit = {
      // cold-cache like Bench.runOnce: earlier sections persist() their
      // subtrees (minhash sigs, shingle sets), and timing later sections
      // under that accumulated cache pressure skews their wall-times
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale-probe] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
    }

    time("q_dedup_exact") {
      SparkEntry.queries("q_dedup_exact")(spark, dir)
        .write.format("noop").mode("overwrite").save(); total
    }
    time("q_text_wordcount") {
      SparkEntry.queries("q_text_wordcount")(spark, dir).count()
    }
    time("q_doc_fingerprint") {
      SparkEntry.queries("q_doc_fingerprint")(spark, dir)
        .write.format("noop").mode("overwrite").save(); total
    }
    var found: Array[(Long, Long)] = Array.empty
    time("q_minhash_neardup") {
      found = SparkEntry.queries("q_minhash_neardup")(spark, dir)
        .select("doc_a", "doc_b").as[(Long, Long)].collect()
      found.length
    }
    val planted = (0L until nDocs by 100).map(i => (i, i + nDocs)).toSet
    val recall = planted.count(found.toSet).toDouble / planted.size
    println(f"[scale-probe] planted-pair recall: $recall%.3f " +
      s"(${planted.count(found.toSet)}/${planted.size} found, " +
      s"${found.length - planted.count(found.toSet)} extra pairs)")
    // exact-verify and simhash paths at the same corpus scale: jaccard is
    // the cost ceiling of the dedup family (LSH candidates + exact set
    // intersection), simhash the precision screen
    var jac: Array[(Long, Long)] = Array.empty
    time("q_jaccard_neardup") {
      jac = SparkEntry.queries("q_jaccard_neardup")(spark, dir)
        .select("doc_a", "doc_b").as[(Long, Long)].collect()
      jac.length
    }
    val jrecall = planted.count(jac.toSet).toDouble / planted.size
    println(f"[scale-probe] jaccard planted recall: $jrecall%.3f " +
      s"(threshold 0.8 vs planted J≈0.90)")
    time("q_simhash_neardup") {
      SparkEntry.queries("q_simhash_neardup")(spark, dir)
        .write.format("noop").mode("overwrite").save(); 0
    }

    // ---- ANN at scale: planted near-neighbors among nVecs vectors ----
    val nVecs = args.lift(1).map(_.toLong).getOrElse(100000L)
    val dim = 64
    val vdir = s"/tmp/graft_scale_vec_$nVecs"
    // standard normal from two hash-uniforms (Box–Muller); fully codegen'd,
    // so generation is one distributed projection, no driver RNG
    def unif(c: org.apache.spark.sql.Column, salt: String) =
      (pmod(xxhash64(concat(c, lit(salt))), lit(1000000000L)).cast("double")
        + 0.5) / 1000000000.0
    def gauss(c: org.apache.spark.sql.Column, j: Int) =
      sqrt(lit(-2.0) * log(unif(c, s"_a$j"))) *
        cos(lit(2 * math.Pi) * unif(c, s"_b$j"))
    // ids 1..10: probe (id 0) + 5% noise → cos ≈ 0.998 planted neighbors;
    // cosine is scale-invariant so no normalization needed.
    // ids nVecs-11..nVecs-1: a SECOND near-dup group around an independent
    // base, planted at high ids deliberately OUTSIDE the k-means init
    // range (init = vec_id < k): the low-id group doubles as ~11 near-
    // coincident initial centroids, which k-means legitimately resolves
    // by splitting the group one-twin-per-duplicated-centroid — real
    // Lloyd's behavior under init collision, but useless for checking
    // within-cell collapse. The high group meets a normal centroid set
    // and must land in ONE cell and dedup to its min id.
    val hiBase = nVecs - 11
    // HOT-CELL BLOCK (round-12 verdict task #1b): 20% of the corpus is
    // BIT-IDENTICAL copies of one vector — the duplicate-heavy cell that
    // dedup targets and that used to make the within-cell self-join
    // quadratic. k-means puts the whole block in one cell; the exact
    // pre-collapse must fold it to a single rep before pair work.
    val hotBase = nVecs / 2
    val hotLen = nVecs / 5
    val comps = (0 until dim).map { j =>
      val own = gauss(col("id"), j)
      val probe = gauss(lit("0"), j)
      val base2 = gauss(lit("B"), j)
      when(col("id").between(1, 10), probe + lit(0.05) * own)
        .when(col("id") >= hiBase, base2 + lit(0.05) * own)
        .when(col("id").between(hotBase, hotBase + hotLen - 1), gauss(lit("H"), j))
        .otherwise(own).cast("float")
    }
    spark.range(0, nVecs)
      .select(col("id").as("vec_id"), array(comps: _*).as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$vdir/embeddings.parquet")
    println(s"[scale-probe] embeddings: $nVecs vectors at $vdir")

    import org.apache.spark.sql.DataFrame
    def topIds(df: DataFrame): Array[Long] =
      df.select("vec_id").as[Long].collect()
    var exact, ann, ivf = Array.empty[Long]
    time("q_similarity_topk") { // exact brute force = ground truth
      exact = topIds(SparkEntry.queries("q_similarity_topk")(spark, vdir)); exact.length
    }
    time("q_ann_lsh_topk") {
      ann = topIds(SparkEntry.queries("q_ann_lsh_topk")(spark, vdir)); ann.length
    }
    time("q_ivf_topk") {
      ivf = topIds(SparkEntry.queries("q_ivf_topk")(spark, vdir)); ivf.length
    }
    // Stored-sketch variant: the registered query computes sketches inline
    // (8 hyperplane dots per row), which at nVecs≈1M costs more than the
    // single brute-force pass it prunes. The production shape at 100 TB is
    // a sketch column persisted AT INGEST; probe time is then a bit_count
    // filter + exact cosine on the few survivors. Measure that shape too.
    val planes = graft.operators.AnnPlanes.planes
    def dotc(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val sketchCol = (0 until 8).map { m =>
      val plane = array(planes(m).map(lit): _*)
      when(dotc(col("v"), plane) > 0, shiftleft(lit(1), m)).otherwise(0)
    }.reduce(_ + _)
    spark.read.parquet(s"$vdir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("vec_id"), col("v"), sketchCol.as("sketch"))
      .write.mode("overwrite").parquet(s"$vdir/sketched")
    var stored = Array.empty[Long]
    time("ann stored-sketch") {
      val sk = spark.read.parquet(s"$vdir/sketched")
      val probe = broadcast(sk.filter(col("vec_id") === 0)
        .select(col("v").as("p"), col("sketch").as("ps")))
      stored = topIds(sk.filter(col("vec_id") =!= 0).crossJoin(probe)
        .filter(bit_count(col("sketch").bitwiseXOR(col("ps"))) <= 3)
        .select(col("vec_id"), expr("cosine_sim(v, p)").as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10))
      stored.length
    }
    val truth = exact.take(10).toSet
    def recall10(got: Array[Long]): Double =
      truth.count(got.take(10).toSet).toDouble / truth.size
    println(f"[scale-probe] ann_lsh recall@10: ${recall10(ann)}%.2f  " +
      f"ivf recall@10: ${recall10(ivf)}%.2f  " +
      f"stored-sketch recall@10: ${recall10(stored)}%.2f  (truth=planted: " +
      s"${truth == (1L to 10L).toSet})")

    // ---- Product quantization at production shape (M=8, ksub=256 — one
    // byte per subspace exactly): train per-subspace codebooks, persist a
    // CODES-ONLY table (vec_id + 8 tinyints — the 100 TB store is 8 B/row
    // next to 256 B/row of float32), then answer the probe from codes
    // alone (ADC shortlist) + exact re-rank on the PqShortlist survivors
    // fetched back from the vector table. The pq_scan time against the
    // q_similarity_topk full-precision pass above is the compression
    // dividend; recall@10 on the planted twins is the price (expected
    // 1.0: twin ADC ≈ reconstruction error ≪ sea distance).
    {
      val ksubP = 256
      val eAll = spark.read.parquet(s"$vdir/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      var cbP: Array[Array[Array[Double]]] = null
      time(s"pq_train ksub=$ksubP") {
        cbP = graft.operators.SimilarityOps.pqTrain(eAll, 8, ksubP, 2)
        cbP.length
      }
      time("pq_encode") {
        graft.operators.SimilarityOps.pqEncode(eAll, cbP)
          .select("vec_id", "code")
          .write.mode("overwrite").parquet(s"$vdir/pqcodes")
        1
      }
      val pv = eAll.filter(col("vec_id") === 0)
        .select("v").head().getSeq[Double](0).toArray
      val lutP = graft.operators.SimilarityOps.pqLut(cbP, pv)
      var short = Array.empty[Long]
      time("pq_scan (codes-only ADC shortlist)") {
        short = spark.read.parquet(s"$vdir/pqcodes")
          .filter(col("vec_id") =!= 0)
          .withColumn("adc", graft.operators.SimilarityOps.pqAdcCol(lutP, ksubP))
          .orderBy(col("adc").asc, col("vec_id")).limit(64)
          .select("vec_id").as[Long].collect()
        short.length
      }
      var pq = Array.empty[Long]
      time("pq_rerank (exact cosine on 64)") {
        val probe = broadcast(eAll.filter(col("vec_id") === 0)
          .select(col("v").as("p")))
        pq = topIds(eAll.filter(col("vec_id").isin(short: _*))
          .crossJoin(probe)
          .select(col("vec_id"), expr("cosine_sim(v, p)").as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10))
        pq.length
      }
      val pqRecall = recall10(pq)
      println(f"[scale-probe] pq recall@10: $pqRecall%.2f  " +
        s"(codes table: 8 B/vec vs 256 B/vec float32)")
      require(pqRecall >= 0.9,
        s"PQ+rerank recall@10 $pqRecall below 0.9 on planted twins")

      // ---- IVF-PQ at production shape (nlist=64 cells, residual
      // codebooks at ksub=256, nprobe=8): the composed structure — the
      // cell join prunes the ADC scan to ~nprobe/nlist of the codes
      // table AND the residual codes are more precise at the same 8
      // bytes. Store = (vec_id, cid, code): cid is the partition column
      // a 100 TB layout would physically partition by, making the
      // nprobe join partition pruning.
      val nlist = 64
      val nprobe = 8
      var centsI: Array[(Int, Array[Double])] = null
      time(s"ivfpq_train nlist=$nlist ksub=$ksubP") {
        centsI = graft.operators.SimilarityOps.kmCentroids(eAll, nlist, 2)
        val residI = graft.operators.SimilarityOps
          .ivfPqResiduals(eAll, centsI)
          .select(col("vec_id"), col("r").as("v"))
        cbP = graft.operators.SimilarityOps.pqTrain(residI, 8, ksubP, 2)
        cbP.length
      }
      time("ivfpq_encode (fused assign+residual+code)") {
        // PHYSICALLY partitioned by cell: at 100 TB the nprobe selection
        // is then partition PRUNING — the scan below must touch only
        // nprobe/nlist of the files on disk, not filter after reading
        graft.operators.SimilarityOps.ivfPqEncode(eAll, centsI, cbP)
          .select("vec_id", "cid", "code")
          .write.mode("overwrite").partitionBy("cid")
          .parquet(s"$vdir/ivfpqcodes")
        1
      }
      val probedI = graft.operators.SimilarityOps
        .ivfPqProbedCells(centsI, pv, nprobe)
      val lutsI = probedI.map { case (cid, c) =>
        (cid, graft.operators.SimilarityOps.pqLut(cbP,
          Array.tabulate(pv.length)(j => pv(j) - c(j))))
      }
      val lutDfI = broadcast(
        spark.createDataFrame(lutsI.toSeq).toDF("cid", "lut"))
      var shortI = Array.empty[Long]
      time(s"ivfpq_scan (nprobe=$nprobe pruned-partition ADC)") {
        val scan = spark.read.parquet(s"$vdir/ivfpqcodes")
          .filter(col("cid").isin(probedI.map(_._1): _*)) // partition prune
          .filter(col("vec_id") =!= 0)
          .join(lutDfI, "cid")
          .withColumn("adc", graft.operators.SimilarityOps
            .pqAdcColOf(col("lut"), col("code"), ksubP, 8))
          .orderBy(col("adc").asc, col("vec_id")).limit(64)
          .select("vec_id")
        // 'cid' must appear INSIDE the PartitionFilters bracket — an
        // unpruned scan still prints 'PartitionFilters: []' and 'cid'
        // appears in join keys regardless, so a whole-plan contains()
        // would pass vacuously (review finding)
        val planStr = scan.queryExecution.executedPlan.toString
        require(planStr.contains("PartitionFilters: [") &&
          planStr.split("PartitionFilters:")(1)
            .takeWhile(_ != ']').contains("cid"),
          "nprobe cell filter did not reach the scan as a partition filter")
        shortI = scan.as[Long].collect()
        shortI.length
      }
      var ivfpq = Array.empty[Long]
      time("ivfpq_rerank (exact cosine on 64)") {
        val probe = broadcast(eAll.filter(col("vec_id") === 0)
          .select(col("v").as("p")))
        ivfpq = topIds(eAll.filter(col("vec_id").isin(shortI: _*))
          .crossJoin(probe)
          .select(col("vec_id"), expr("cosine_sim(v, p)").as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10))
        ivfpq.length
      }
      val ivfpqRecall = recall10(ivfpq)
      println(f"[scale-probe] ivfpq recall@10: $ivfpqRecall%.2f  " +
        s"(probed $nprobe/$nlist cells)")
      require(ivfpqRecall >= 0.9,
        s"IVF-PQ recall@10 $ivfpqRecall below 0.9 on planted twins")
    }

    // ---- k-means + SemDeDup at scale: k SCALES WITH n (the registered
    // queries pin k=8 only for the DuckDB oracle replay). n/k vectors per
    // cell keeps each within-cell pair block ~constant: at k=√(n/2) the
    // total pair count is ~n^1.5/2√2, not n²/16 — the production rule the
    // probe exercises. The planted ids 0..10 are near-identical, so they
    // share a cell and must collapse to their min id.
    val kScaled = math.max(16,
      math.round(math.sqrt(nVecs.toDouble / 2)).toInt)
    var cells = Array.empty[(Long, Long)]
    time(s"kmeans_assign k=$kScaled") {
      cells = graft.operators.SimilarityOps.kmeansAssignQ(kScaled, 2)(spark, vdir)
        .select("vec_id", "cluster").as[(Long, Long)].collect()
      cells.length
    }
    val cellsOk = cells.length == nVecs
    val hiCell = cells.filter(_._1 >= hiBase).map(_._2).toSet

    // ---- pruned-vs-brute identity + speedup at production k (round-12
    // verdict task #1a): both paths over the SAME centroids; labels and
    // distances must be bit-identical, and the pruned wall-time is the
    // number that replaces the old brute 147.7 s headline.
    val (bruteDf, prunedDf) =
      graft.operators.SimilarityOps.assignBoth(spark, vdir, kScaled, 2)
    def grab(df: org.apache.spark.sql.DataFrame): Array[(Long, Int, Long)] =
      df.select("vec_id", "cid", "d").collect().map(r =>
        (r.getLong(0), r.getInt(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))
    var brute, pruned = Array.empty[(Long, Int, Long)]
    time("assign_brute") { brute = grab(bruteDf); brute.length }
    time("assign_pruned") { pruned = grab(prunedDf); pruned.length }
    require(brute.length == pruned.length,
      s"pruned returned ${pruned.length} rows vs brute ${brute.length} — " +
        "zip would silently truncate the comparison")
    val mismatches = brute.sortBy(_._1).zip(pruned.sortBy(_._1))
      .count { case (a, b) => a != b }
    require(mismatches == 0,
      s"pruned assignment diverged from brute on $mismatches vectors")

    // ---- CentIndex construction cost at production k (round-13 verdict
    // task #3): the grouping is driver work — parallelized this round —
    // and the index itself is the broadcast every assignment task pulls.
    // Report build wall-time and Java-serialized size (the broadcast's
    // wire shape under the default JavaSerializer) at k = 10⁴ and 10⁵.
    for (kBig <- Seq(10000, 100000)) {
      val rng = new scala.util.Random(kBig)
      val cents = Array.tabulate(kBig)(i =>
        i -> Array.fill(dim)(rng.nextGaussian()))
      val t0 = System.nanoTime()
      val idx = graft.operators.SimilarityOps.assignIndexFor(cents)
      val buildS = (System.nanoTime() - t0) / 1e9
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(idx); oos.close()
      // one spot-assignment so the index is actually exercised
      val probeV = Array.fill(dim)(rng.nextGaussian())
      val t1 = System.nanoTime()
      val (cid0, _) = idx.assign(probeV)
      val assignUs = (System.nanoTime() - t1) / 1e3
      println(f"[scale-probe] cent_index k=$kBig%6d: build $buildS%6.2f s  " +
        f"broadcast ${bos.size / 1048576.0}%6.1f MiB  " +
        f"assign $assignUs%8.1f us/vec (cid=$cid0)")
    }

    var keptKm = Array.empty[Long]
    time(s"cluster_dedup k=$kScaled") {
      keptKm = graft.operators.SimilarityOps
        .clusterDedupQ(kScaled, 2, 0.9)(spark, vdir)
        .select("vec_id").as[Long].collect()
      keptKm.length
    }
    val keptSet = keptKm.toSet
    val hiCollapsed = keptSet.contains(hiBase) &&
      ((hiBase + 1) until nVecs).forall(!keptSet.contains(_))
    // hot-cell evidence: the 20% bit-identical block must fold to one
    // kept rep, and the collapse must have bounded the pair work — report
    // naive Σ|cell|²/2 vs post-collapse Σ|reps|²/2 from the real data
    val hotCollapsed = keptSet.contains(hotBase) &&
      ((hotBase + 1) until (hotBase + hotLen)).forall(!keptSet.contains(_))
    val naivePairs = cells.groupBy(_._2).values
      .map { a => val m = a.length.toLong; m * (m - 1) / 2 }.sum
    val repCounts = graft.operators.SimilarityOps
      .kmeansAssignQ(kScaled, 2)(spark, vdir).select("vec_id", "cluster")
      .join(spark.read.parquet(s"$vdir/embeddings.parquet")
        .select("vec_id", "embedding"), "vec_id")
      .select("cluster", "embedding").distinct()
      .groupBy("cluster").count().as[(Long, Long)].collect()
    val collapsedPairs = repCounts.map { case (_, r) => r * (r - 1) / 2 }.sum
    // ---- band-face dedup at scale: adaptive band depth (bandBits) plus
    // the exact pre-collapse must survive the 20% bit-identical hot block
    // (which shares every sketch bucket — no depth prunes it) AND still
    // catch the hi near-twin group through the deeper bands (b=10 at 1M:
    // per-pair band recall ≈ 0.96 at the plant's cos ≈ 0.998, and the
    // 11-node group needs only a spanning subset of its 55 pairs).
    var keptEmbed = Array.empty[Long]
    time("embed_dedup tau=0.9") {
      keptEmbed = graft.operators.SimilarityOps.embedDedupQ(0.9)(spark, vdir)
        .select("vec_id").as[Long].collect()
      keptEmbed.length
    }
    val keptE = keptEmbed.toSet
    val hotCollapsedE = keptE.contains(hotBase) &&
      ((hotBase + 1) until (hotBase + hotLen)).forall(!keptE.contains(_))
    val hiCollapsedE = keptE.contains(hiBase) &&
      ((hiBase + 1) until nVecs).forall(!keptE.contains(_))
    // report the depth the query ACTUALLY used: embedDedupQ sizes its
    // banding from the POST-collapse rep count, not the raw corpus (the
    // 20% hot block collapses before banding), and near a log2 rounding
    // boundary the two differ by a bit
    val nReps = spark.read.parquet(s"$vdir/embeddings.parquet")
      .select("embedding").distinct().count()
    println(s"[scale-probe] embed_dedup kept=${keptEmbed.length}/$nVecs " +
      s"hot_collapsed=$hotCollapsedE hi_collapsed=$hiCollapsedE " +
      s"reps=$nReps band_bits=${graft.operators.SimilarityOps.bandBits(nReps)}")

    println(s"[scale-probe] kmeans cells=$kScaled partition_ok=$cellsOk " +
      s"planted_one_cell=${hiCell.size == 1} " +
      s"assign_identical=${mismatches == 0} " +
      s"cluster_dedup kept=${keptKm.length}/$nVecs " +
      s"planted_collapsed=$hiCollapsed hot_collapsed=$hotCollapsed " +
      s"hot_cell_size=${cells.groupBy(_._2).values.map(_.length).max} " +
      s"naive_pairs=$naivePairs collapsed_pairs=$collapsedPairs " +
      f"pair_reduction=${naivePairs.toDouble / math.max(1, collapsedPairs)}%.1fx")
    spark.stop()
  }
}
