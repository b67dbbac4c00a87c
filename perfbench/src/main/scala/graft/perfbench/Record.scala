package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes `expected/fingerprints.json`: the fingerprint of every
  * registered query on the benchmark's fixtures.
  *
  * `Record <fixturesDir> <out.json> [verifyDir]` — with a `graft.Verify`
  * dump of the same fixtures (the one `tools/check.py` compared against
  * DuckDB), each query's dumped parquet is fingerprinted too and must
  * match, which ties every recorded oracle-backed fingerprint to a DuckDB
  * pass. Exits non-zero on any failure or mismatch.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val out = Paths.get(args(1))
    val verify = args.lift(2)
    val spark = graft.Sessions.local("4", "perfbench-record")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    var bad = List.empty[String]
    val entries = names.map { q =>
      spark.catalog.clearCache()
      val p = Fingerprint.of(graft.SparkEntry.queries(q)(spark, sf))
      verify.foreach { dir =>
        val dumped = Paths.get(dir, q)
        if (Files.isDirectory(dumped)) {
          val v = Fingerprint.of(spark.read.parquet(dumped.toString))
          if (v != p) bad ::= s"$q: live $p, verify dump $v"
        }
      }
      q -> Json.obj(Seq("rows" -> p.rows.toString, "sha256" -> Json.str(p.sha256),
        "oracle" -> graft.SparkEntry.oracleSql.contains(q).toString))
    }
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.writeString(out, entries.map { case (q, v) => s"  ${Json.str(q)}: $v" }
      .mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
    bad.reverse.foreach(b => System.err.println(s"[record] mismatch $b"))
    println(s"[record] ${entries.size} fingerprints, ${bad.size} verify mismatches")
    if (bad.nonEmpty) sys.exit(1)
  }
}
