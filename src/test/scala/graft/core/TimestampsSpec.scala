package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** T1–T4 semantics: unit thresholds at the 1e11/1e14/1e17 boundaries,
  * the exact lower median, numeric-looking vacuity, exact long ns→µs
  * truncation, string coercion (reference
  * /root/reference/flows/pipeline.py:25-37,130-141).
  */
class TimestampsSpec extends SparkSpec {
  import spark.implicits._

  private def unitOf(vals: Seq[java.lang.Double]): String =
    Timestamps.detectEpochUnits(vals.toDF("ts"), Seq("ts"))("ts")

  /** The probe's decision for column `ts`, from its own aggregate row. */
  private def epochUnit(df: DataFrame): Option[String] = {
    val probe = new Timestamps.Probe("ts", df.schema("ts").dataType)
    probe.epochUnit(df.agg(probe.aggs.head, probe.aggs.tail: _*).first())
  }

  test("detectEpochUnit thresholds are strict greater-than") {
    assert(unitOf(Seq(1.7e9)) == "s")    // 2023 in seconds
    assert(unitOf(Seq(1e11)) == "s")     // boundary itself: NOT > 1e11
    assert(unitOf(Seq(1.0000001e11)) == "ms")
    assert(unitOf(Seq(1.7e12)) == "ms")  // 2023 in millis
    assert(unitOf(Seq(1e14)) == "ms")
    assert(unitOf(Seq(1.0000001e14)) == "us")
    assert(unitOf(Seq(1.7e15)) == "us")
    assert(unitOf(Seq(1e17)) == "us")
    assert(unitOf(Seq(1.0000001e17)) == "ns")
    assert(unitOf(Seq(1.7e18)) == "ns")  // 2023 in nanos
  }

  test("detectEpochUnit: median over mixed magnitudes; abs() applied") {
    assert(unitOf(Seq(1.7e9, 1.7e9, 1.7e18)) == "s")  // median picks majority
    assert(unitOf(Seq(-1.7e12, -1.7e12, 1.0)) == "ms") // abs before median
    // an even count takes the lower median
    assert(unitOf(Seq(1.7e9, 1.7e12)) == "s")
    assert(unitOf(Seq(1.7e12, 1.7e9, 1.7e12, 1.7e12)) == "ms")
  }

  test("detectEpochUnit: empty / all-null defaults to seconds") {
    assert(unitOf(Seq.empty[java.lang.Double]) == "s")
    assert(unitOf(Seq(null.asInstanceOf[java.lang.Double])) == "s")
  }

  test("looksNumeric: numeric dtype, digit strings, vacuous empty") {
    assert(epochUnit(Seq(1L, 2L).toDF("ts")) == Some("s"))
    assert(epochUnit(Seq("1700000000", "1700000001.5").toDF("ts")) == Some("s"))
    assert(epochUnit(Seq("1700000000000", "x").toDF("ts")) == None)
    assert(epochUnit(Seq("2024-01-01", "123").toDF("ts")) == None)
    assert(epochUnit(Seq.empty[String].toDF("ts")) == Some("s")) // pandas .all() vacuity
    assert(epochUnit(Seq(null.asInstanceOf[String]).toDF("ts")) == Some("s"))
  }

  test("looksNumeric on a string column, read from the DQ profile's fused row") {
    val df = Seq(("1700000000000", -1.0), ("1700000001000", 2.0), (null, 3.0))
      .toDF(" Timestamp ", "amount")
    val probe = new Timestamps.Probe(" Timestamp ", df.schema(" Timestamp ").dataType)
    val (m, row) = Quality.profile(df, "pre", probe.aggs)
    assert(m.totalRows == 3 && m.failedRowsEstimate == 1) // the negative amount
    assert(probe.epochUnit(row) == Some("ms"))

    val mixed = Seq(("1700000000000", 1.0), ("2024-01-01 00:00:00", 2.0))
      .toDF(" Timestamp ", "amount")
    assert(probe.epochUnit(Quality.profile(mixed, "pre", probe.aggs)._2) == None)
  }

  test("rawProbe: one numeric or string column that normalizes to the name") {
    def probed(df: DataFrame) = Timestamps.rawProbe(df, "timestamp").isDefined
    assert(probed(Seq(1L).toDF(" Timestamp ")))
    assert(probed(Seq("1").toDF("timestamp")))
    assert(!probed(Seq(1L).toDF("x")))
    assert(!probed(Seq((1L, 1L)).toDF(" Timestamp ", "timestamp")))
    // DATE has no cast to double; neither it nor TIMESTAMP looks numeric
    assert(!probed(Seq(1L).toDF("timestamp").select(current_date().as("timestamp"))))
    assert(!probed(Seq(1L).toDF("timestamp").select(current_timestamp().as("timestamp"))))
  }

  test("epochToTimestamp long paths are exact, ns truncates to µs") {
    val df = Seq(1700000000123456789L).toDF("v")
    def us(unit: String): Long =
      collectSingle[Long](df.select(unix_micros(
        Timestamps.epochToTimestamp(col("v"), unit, df.schema("v").dataType))))
    assert(us("ns") == 1700000000123456L) // exact integral div, not double
    val secs = Seq(1700000000L).toDF("v")
    assert(collectSingle[Long](secs.select(unix_micros(
      Timestamps.epochToTimestamp(col("v"), "s", secs.schema("v").dataType))))
      == 1700000000000000L)
    assert(collectSingle[Long](secs.select(unix_micros(
      Timestamps.epochToTimestamp(col("v"), "ms", secs.schema("v").dataType))))
      == 1700000000000L)
    assert(collectSingle[Long](secs.select(unix_micros(
      Timestamps.epochToTimestamp(col("v"), "us", secs.schema("v").dataType))))
      == 1700000000L)
  }

  test("epochToTimestamp string input goes through numeric coercion") {
    val df = Seq("1700000000", "garbage").toDF("v")
    val out = col0(df.select(unix_micros(
      Timestamps.epochToTimestamp(col("v"), "s", df.schema("v").dataType))))
    assert(out == Seq(1700000000000000L, null))
  }

  test("stringToTimestamp coerces bad strings to null") {
    val df  = Seq("2024-01-02 03:04:05", "not a time").toDF("v")
    val out = col0(df.select(Timestamps.stringToTimestamp(col("v"))))
    assert(out == Seq(Timestamp.valueOf("2024-01-02 03:04:05"), null))
  }

  test("parseTimestampColumn: missing column synthesizes all-null timestamps") {
    val out = Timestamps.parseTimestampColumn(Seq(1).toDF("x"), "timestamp", Some("s"))
    assert(out.schema("timestamp").dataType.typeName == "timestamp")
    assert(out.select("timestamp").collect().head.isNullAt(0))
  }

  test("parseTimestampColumn: numeric column detects unit; string column parses") {
    val nums = Seq(1700000000L).toDF("ts")
    val num = Timestamps.parseTimestampColumn(nums, "ts", epochUnit(nums))
    assert(collectSingle[Long](num.select(unix_micros(col("ts"))))
      == 1700000000000000L)
    val strs = Seq("2024-01-02 03:04:05", "bogus").toDF("ts")
    val str = Timestamps.parseTimestampColumn(strs, "ts", epochUnit(strs))
    assert(col0(str.select(col("ts")))
      == Seq(Timestamp.valueOf("2024-01-02 03:04:05"), null))
  }
}
