package graft

import org.apache.spark.sql.SparkSession

/** Shared local-mode SparkSession builder for the harness mains and tests.
  *
  * Centralizes the conf the engine needs so no table loader has to mutate a
  * live session (see ADVICE.md round 1): UTC timezone (oracle compare),
  * shuffle partitions sized to cores (local mode — a real cluster would set
  * this to a multiple of executor cores), and the legacy nanos-as-long
  * parquet read `Tables.events` relies on when the fixture generation on
  * disk carries TIMESTAMP(NANOS) (rounds ≤10 did; the conf is inert for
  * the micros fixtures shipped since, and the loader branches on the read
  * dtype either way — FixtureSchemaCanarySpec).
  */
object Sessions {
  def local(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      appName: String = "graft",
      extra: Map[String, String] = Map.empty): SparkSession = {
    // `local[*]` and friends: fall back to the machine's core count for
    // the per-core split sizing below.
    val nCores: Int = cpus.toIntOption
      .getOrElse(Runtime.getRuntime.availableProcessors).max(1)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      // Local-mode split sizing, the scan-side twin of the shuffle-
      // partition line above, sized per core: a 128 MB-class local input
      // (the 1M-doc probe corpus is ~170 MB) should scan cores-wide, so
      // splits are 128 MB / cores — with the 128 MB/4 MB defaults the
      // whole corpus bin-packed into ~3 input partitions and every
      // pre-shuffle pipeline (explode, hash, scan projection) ran 3-wide
      // on a 32-core box (measured 3×+ on the containment probe's
      // shingle explode at 101k docs). Cores-AWARE rather than a fixed
      // small value because the cost runs the other way on small
      // sessions: a flat 4 MB split at 4 cores over-splits the sf0.1
      // fixture tables and showed up as a 1.2-1.5× min regression on
      // sub-second queries. A real cluster keeps the defaults: at 100 TB
      // the split count is file-system-bound, not knob-bound.
      .config("spark.sql.files.maxPartitionBytes",
        (128L * 1024 * 1024 / nCores).toString)
      .config("spark.sql.files.openCostInBytes",
        (8L * 1024 * 1024 / nCores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE coalescing floor (guide §2.2/§2.5): with the default
      // parallelismFirst=true Spark coalesces post-shuffle partitions down
      // to minPartitionSize (1 MB) — correct when stage cost tracks bytes,
      // wrong for the dedup family's candidate-pair joins, where a ~1 MB
      // (doc_id, shingle_hash) shuffle fans out into millions of pairs and
      // the coalesced SINGLE partition serializes the heaviest compute in
      // the query (q_containment_dedup measured two back-to-back 1-task
      // 1.35 s stages = 2/3 of its wall; 16-task twin runs in ~0.2 s).
      // 64 KB keeps genuinely tiny exchanges (CC rounds, dashboard aggs)
      // coalesced while letting KB-scale-but-compute-heavy stages keep
      // parallelism. Scale-neutral by construction: any 100 TB exchange is
      // GBs per partition and never sees either floor. A cluster that
      // wants another floor sets the conf through `extra`.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Shuffle writer selection (guide §2.1): below this partition-count
      // threshold Spark uses the bypass-merge writer, which opens one
      // FILE PER REDUCE PARTITION per map task — at shuffle.partitions =
      // cores that is 32 file creates per map task for exchanges that
      // often carry a few KB, and the engine's suite is dominated by such
      // exchanges (dashboard-sized aggregates, training collects, CC
      // rounds). 0 always selects the serialized sort writer (one spill
      // file + index per map task, radix sort on partition ids) — the
      // writer every ≥200-partition production shuffle uses anyway, so
      // this aligns local behavior WITH the cluster path rather than away
      // from it.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // Bucketed scans report their sortBy order only under this flag
      // (post-3.0 Spark drops the ordering claim because multi-file
      // buckets would need a merge-read). The engine's bucketed writes go
      // through JoinOps.bucketedTables, whose pre-write repartition
      // guarantees ONE file per bucket — the exact condition the flag's
      // ordering claim is sound under (BucketedJoinSpec asserts the
      // file layout AND the resulting sort-free, exchange-free join).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
