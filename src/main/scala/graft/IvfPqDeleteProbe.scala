package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps
import graft.streaming.IvfPqIngest

/** Scale probe for deletion in the compressed store
  * ([[graft.streaming.IvfPqIngest.delete]] / compact):
  * `runMain graft.IvfPqDeleteProbe [nVecs] [nBatches]`
  * (defaults 1,000,000 / 4).
  *
  * Measures what a takedown pipeline pays: ADC retrieval wall at
  * tombstone fractions 0 / 0.1% / 1% / 10% (the broadcast anti-join is
  * the only added work — expect near-zero overhead), leak checks at
  * every step (planted twins deleted mid-probe must vanish from the
  * shortlist while their siblings stay), then a threshold compaction
  * (every dir past 5% rewrites, crash-safe swaps) with its wall and the
  * post-compaction retrieval wall (tombstone table empty again — the
  * anti-join disappears from the plan). One JSON line at the end.
  */
object IvfPqDeleteProbe {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = Sessions.local(appName = "graft-ivfpq-delete-probe")

    val dim = 64
    val nCenters = 512
    val spread = 0.35
    val perBatch = nVecs / nBatches
    val dir = s"/tmp/graft_ivfpq_delete_probe_${nVecs}_${System.nanoTime()}"

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
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[ivfpq-delete] $name%-36s $secs%8.2f s")
      (r, secs)
    }

    // ---- Build the store through the streaming path ------------------
    val boot = mixture(0, perBatch).persist()
    val ((cents, cb), trainWall) = timed("train (coarse + residual PQ)") {
      val c = SimilarityOps.kmCentroids(boot, 64, 2)
      val resid = SimilarityOps.ivfPqResiduals(boot, c)
        .select(col("vec_id"), col("r").as("v"))
      (c, SimilarityOps.pqTrain(resid, 8, 256, 2))
    }
    val target = boot.filter(col("vec_id") === 7)
      .select("v").head().getSeq[Double](0).toArray
    val twinRows = (0 until 5).map { i =>
      val rng = new scala.util.Random(100 + i)
      (nVecs + i, Array.tabulate(dim)(j => target(j) + 0.01 * rng.nextGaussian()))
    }
    IvfPqIngest.processBatch(boot, 0L, dir, cents, cb)
    boot.unpersist()
    for (b <- 1 until nBatches) {
      val batch = mixture(b * perBatch, (b + 1) * perBatch)
      val withTwins =
        if (b == nBatches - 1)
          batch.unionByName(spark.createDataFrame(twinRows).toDF("vec_id", "v"))
        else batch
      IvfPqIngest.processBatch(withTwins, b.toLong, dir, cents, cb)
    }

    // The 8-byte store owes the SHORTLIST (fine ranking is the exact
    // re-rank's job — IvfPqIngestSpec's documented contract): at 1M the
    // probe's ~2000-member same-center cluster ties near the minimum
    // ADC, so k must cover the tie group for the twin checks to mean
    // anything. k=4096 is the widest PqRecallProbe arm.
    val k = 4096
    def retrieveWall(): (Set[Long], Double) = {
      // min of 3 — retrieval is seconds-scale, contention only adds
      val runs = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        timed(s"  retrieve (nprobe=3, k=$k)") {
          IvfPqIngest.retrieveGens(spark, dir,
            Map(0 -> IvfPqIngest.GenStructs(cents, cb)), target, 3, k)
            .collect().map(_.getLong(0)).toSet
        }
      }
      (runs.head._1, runs.map(_._2).min)
    }

    // Deterministic pseudo-random victim set at a given per-mille rate,
    // excluding the probe's neighborhood so the leak check stays sharp.
    def victims(perMille: Int): DataFrame =
      spark.range(0, nVecs)
        .filter(pmod(xxhash64(concat(lit("del"), col("id"))), lit(1000))
          < perMille)
        .filter(col("id") =!= 7)
        .select(col("id").as("vec_id"))

    val (base, wall0) = retrieveWall()
    require(twinRows.map(_._1).toSet.subsetOf(base),
      s"fixture sanity: twins not retrieved pre-delete: $base")

    val fractions = Seq(1, 10, 100) // per-mille
    val walls = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    walls += ((0.0, wall0))
    var nDeleted = 0L
    for (pm <- fractions) {
      val vs = victims(pm)
      val (_, delWall) = timed(f"delete to ${pm / 10.0}%%") {
        // each rate's victim set is a superset of the previous one (same
        // hash, higher cut) — the duplicate tombstones are the read
        // side's problem by contract (it de-duplicates)
        IvfPqIngest.delete(spark, dir, vs)
      }
      nDeleted = vs.count()
      val (got, w) = retrieveWall()
      walls += ((pm / 1000.0, w))
      require(twinRows.map(_._1).toSet.subsetOf(got),
        "undeleted twins lost under tombstones")
      // No under-fill (r18 verdict #5): the anti-join cuts BEFORE the
      // top-k, so even at 10% tombstones the shortlist fills to k while
      // k live rows exist in the probed cells.
      require(got.size == k,
        s"top-$k under-filled to ${got.size} at ${pm / 10.0}% deletes")
      println(f"[ivfpq-delete] fraction ${pm / 10.0}%.1f%%: retrieve " +
        f"$w%.2f s (base $wall0%.2f s), append $delWall%.2f s")
    }

    // Targeted takedown mid-stream: two twins go; the leak check.
    IvfPqIngest.delete(spark, dir,
      spark.createDataFrame(Seq(Tuple1(nVecs), Tuple1(nVecs + 1)))
        .toDF("vec_id"))
    val (gotAfter, _) = retrieveWall()
    require(gotAfter.intersect(Set(nVecs, nVecs + 1)).isEmpty,
      s"deleted twins leaked: $gotAfter")
    require(Set(nVecs + 2, nVecs + 3, nVecs + 4).subsetOf(gotAfter),
      "surviving twins lost")

    // ---- Compaction at 5%: the 10% fraction trips every dir ----------
    val (rewritten, compactWall) = timed("compact (threshold 5%)") {
      IvfPqIngest.compact(spark, dir, 0.05)
    }
    val tombstonesLeft = IvfPqIngest.readDeletes(spark, dir)
      .map(_.count()).getOrElse(0L)
    val raw = spark.read.parquet(s"$dir/codes")
    val nLeft = raw.count()
    val leak = raw.join(victims(100).unionByName(
      spark.createDataFrame(Seq(Tuple1(nVecs), Tuple1(nVecs + 1)))
        .toDF("vec_id")), Seq("vec_id"), "left_semi").count()
    require(leak == 0, s"$leak purged rows physically present post-compaction")
    val (gotFinal, wallPost) = retrieveWall()
    require(gotFinal.intersect(Set(nVecs, nVecs + 1)).isEmpty &&
      Set(nVecs + 2, nVecs + 3, nVecs + 4).subsetOf(gotFinal),
      "post-compaction retrieval story broke")
    println(f"[ivfpq-delete] compaction: ${rewritten.size} dirs rewritten " +
      f"in $compactWall%.2f s; $nLeft rows live; " +
      f"$tombstonesLeft tombstones left; retrieve $wallPost%.2f s")

    val wallsJson = walls.map { case (f, w) =>
      f"""{"fraction":$f,"retrieve_s":$w%.2f}""" }.mkString("[", ",", "]")
    println(
      s"""{"probe":"ivfpq_delete","n_vecs":${nVecs + 5},""" +
        s""""n_deleted":$nDeleted,"train_s":${f"$trainWall%.2f"},""" +
        s""""retrieve_walls":$wallsJson,""" +
        s""""compact_s":${f"$compactWall%.2f"},""" +
        s""""dirs_rewritten":${rewritten.size},""" +
        s""""rows_after_compact":$nLeft,"tombstones_left":$tombstonesLeft,""" +
        s""""retrieve_post_compact_s":${f"$wallPost%.2f"}}""")
    graft.SoakDirs.deleteRecursively(java.nio.file.Paths.get(dir))
    spark.stop()
  }
}
