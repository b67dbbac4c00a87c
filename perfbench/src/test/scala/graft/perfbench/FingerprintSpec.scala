package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  test("doubles round half-even to 6 places without trailing zeros") {
    assert(Fingerprint.double(1.0) == "1")
    assert(Fingerprint.double(0.1 + 0.2) == "0.3")
    assert(Fingerprint.double(2.0000004) == "2")
    assert(Fingerprint.double(2.0000006) == "2.000001")
    assert(Fingerprint.double(-0.0) == "0")
    assert(Fingerprint.double(-1e-9) == "0")
    assert(Fingerprint.double(1234567.1234565) == "1234567.123457") // exact value is above .5
    assert(Fingerprint.double(0.0000005) == "0") // exact value is below .5
    assert(Fingerprint.value(1.5f) == "1.5")
  }

  test("NaN and null canonicalize alike; a null string is not the text null") {
    assert(Fingerprint.value(Double.NaN) == "null")
    assert(Fingerprint.value(null) == "null")
    assert(Fingerprint.value("null") == "\"null\"")
    assert(Fingerprint.value(Seq(1.0, null, Double.NaN)) == "[1,null,null]")
  }

  test("timestamps are epoch micros whatever their Java type") {
    val ts = java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0, 123456000))
    val utc = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0, 123456000)
    assert(Fingerprint.value(utc) == "1704067200123456")
    assert(Fingerprint.value(utc.toInstant(java.time.ZoneOffset.UTC)) == "1704067200123456")
    assert(Fingerprint.value(new java.sql.Timestamp(-1L)) == "-1000")
    assert(Fingerprint.value(ts).endsWith("123456"))
  }

  test("fingerprints ignore row order and column order, not values") {
    val a = Seq(Row(1L, 0.5, null), Row(2L, 1.0000001, "x"))
    val b = Seq(Row(2L, 1.0, "x"), Row(1L, 0.5000000001, null))
    assert(Fingerprint.lines(a, Seq(0, 1, 2)) == Fingerprint.lines(b, Seq(0, 1, 2)))
    val c = Seq(Row(2L, 1.0, "y"), Row(1L, 0.5, null))
    assert(Fingerprint.lines(a, Seq(0, 1, 2)) != Fingerprint.lines(c, Seq(0, 1, 2)))
    assert(Fingerprint.lines(a, Seq(0, 1, 2)).rows == 2)
  }
}
