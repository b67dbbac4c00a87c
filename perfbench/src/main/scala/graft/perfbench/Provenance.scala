package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Fixture layout for the provenance line: per table, files, rows, row
  * groups and compressed bytes, read from the parquet footers only. Row
  * groups bound scan parallelism, so two runs on different layouts are
  * not an A/B. */
object Provenance {
  def fixtureLayout(spark: SparkSession, dir: String): String = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val tables = fs.listStatus(root).filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    Json.obj(tables.toSeq.map { st =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      val blocks = try rdr.getFooter.getBlocks.asScala.toSeq finally rdr.close()
      st.getPath.getName.stripSuffix(".parquet") -> Json.obj(Seq(
        "rows" -> blocks.map(_.getRowCount).sum.toString,
        "row_groups" -> blocks.size.toString,
        "compressed_bytes" -> blocks.map(_.getCompressedSize).sum.toString))
    })
  }
}
