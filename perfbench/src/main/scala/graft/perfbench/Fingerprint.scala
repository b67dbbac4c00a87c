package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}

/** Output fingerprint of one query: its row count plus a SHA-256 over the
  * canonicalized rows.
  *
  * Canonical form follows `tools/check.py`'s normalization: columns in name
  * order, doubles (and floats) rounded half-even to 6 decimal places, NaN
  * read as null, timestamps as epoch microseconds. Rows are sorted by their
  * canonical text before hashing, so a plan that emits the same rows in a
  * different order fingerprints the same — partition-dependent row order
  * is not part of any query's contract here.
  */
object Fingerprint {
  final case class Print(rows: Long, sha256: String)

  def of(df: DataFrame): Print = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    lines(df.collect().toSeq, cols.toSeq)
  }

  /** Fingerprint of already-collected rows, reading columns `order`. */
  def lines(rows: Seq[Row], order: Seq[Int]): Print = {
    val canon = rows.map(r => order.map(i => value(r.get(i))).mkString("[", ",", "]"))
    Print(rows.length.toLong, sha256(canon.sorted.mkString("\n")))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Doubles to 6 decimal places, half-even on the exact binary value
    * (what Python's `round(v, 6)` does), without trailing zeros. */
  def double(d: Double): String =
    if (d.isNaN) "null"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val s = new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN)
      if (s.signum == 0) "0" else s.stripTrailingZeros().toPlainString
    }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: JBigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros().toPlainString
    case b: scala.math.BigDecimal => value(b.bigDecimal)
    case s: String => Json.str(s)
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => Json.str(d.toLocalDate.toString)
    case d: java.time.LocalDate => Json.str(d.toString)
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
}
