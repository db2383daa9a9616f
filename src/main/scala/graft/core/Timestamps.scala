package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Adaptive timestamp ingestion (SURVEY §2.3; reference
  * /root/reference/flows/pipeline.py:25-37,130-141).
  *
  * The one genuinely "custom" operator in the reference: a global statistic
  * (median magnitude) picks the epoch unit, then the column converts. The
  * Spark shape is the same: a handful of counters that ride in a caller's
  * single aggregation pass ([[Probe]]), then a declarative per-row
  * conversion that stays in codegen.
  */
object Timestamps {

  /** T1 thresholds, largest first: median magnitude >1e17→ns, >1e14→us,
    * >1e11→ms, else s (pipeline.py:25-37).
    */
  private val Thresholds = Seq(1e17 -> "ns", 1e14 -> "us", 1e11 -> "ms")

  /** T1 and T2 for one column, as aggregate columns that ride in the
    * caller's `agg` (the pre-gate profile, r7's detection pass), and the
    * decision read back from that aggregate's row.
    *
    * T1 — epoch-unit detection over v = abs(try_cast(c as double)): the
    * lower median of v exceeds a threshold t exactly when
    * 2·count(v > t) > count(v), so one counter per threshold gives the
    * exact unit in constant state, a plain codegen'd `count` aggregate
    * (a percentile buffer would turn the caller's aggregate into an
    * ObjectHashAggregate). Empty/all-null → s. For an even count pandas
    * averages the two middle values; the lower median differs from that
    * only when the middle pair straddles a 1000× threshold, where the
    * reference's single-unit model is ill-defined anyway.
    *
    * T2 — "looks numeric": numeric dtype, or every non-null value matches
    * ^\d+(\.\d+)?$ (pipeline.py:133); counted only for other dtypes.
    * pandas `.all()` over an empty series is vacuously true → numeric.
    */
  final class Probe(column: String, dataType: DataType) {
    private val c = col("`" + column.replace("`", "``") + "`")
    private def name(counter: String) = s"epoch_probe[$column].$counter"
    private val numericType = dataType.isInstanceOf[NumericType]

    val aggs: Seq[Column] = {
      val v = abs(c.try_cast("double"))
      val counts = count(v).as(name("n")) +:
        Thresholds.map { case (t, unit) => count_if(v > t).as(name(unit)) }
      if (numericType) counts
      else counts :+
        count_if(c.isNotNull && !c.cast("string").rlike("^\\d+(\\.\\d+)?$"))
          .as(name("non_numeric"))
    }

    /** T1's unit, from a row holding [[aggs]]. */
    def unit(row: Row): String = {
      val n = row.getAs[Long](name("n"))
      Thresholds.collectFirst { case (_, u) if 2 * row.getAs[Long](name(u)) > n => u }
        .getOrElse("s")
    }

    /** What [[parseTimestampColumn]] takes: T1's unit when the column looks
      * numeric (T2), None to parse it as datetime strings.
      */
    def epochUnit(row: Row): Option[String] =
      if (numericType || row.getAs[Long](name("non_numeric")) == 0) Some(unit(row))
      else None
  }

  /** The probe of the raw column that becomes `name` once names are
    * normalized ([[Normalize.normName]]). None when there is none (the
    * column is synthesized all-null), more than one (the ambiguous
    * reference fails where it is converted), or it is neither numeric nor
    * string: CSV inference types dates and datetimes as DATE/TIMESTAMP,
    * whose values never look numeric, so they take the string parse, and
    * DATE has no cast to double. So a probe never fails the pass it rides in.
    */
  def rawProbe(raw: DataFrame, name: String): Option[Probe] =
    raw.schema.fields.filter(f => Normalize.normName(f.name) == name) match {
      case Array(f) if f.dataType.isInstanceOf[NumericType] || f.dataType == StringType =>
        Some(new Probe(f.name, f.dataType))
      case _ => None
    }

  /** T1 over several columns in ONE aggregation job: r7 probes all four
    * units at once, where a pass per column would scan once each.
    */
  def detectEpochUnits(df: DataFrame, colNames: Seq[String]): Map[String, String] = {
    val probes = colNames.map(c => c -> new Probe(c, df.schema(c).dataType))
    val aggs = probes.flatMap(_._2.aggs)
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    probes.map { case (c, p) => c -> p.unit(row) }.toMap
  }

  /** T3 — epoch number → TimestampType at the given unit (pipeline.py:137).
    *
    * Integral inputs use exact long arithmetic (pandas keeps int64 → exact);
    * only string/float inputs go through double coercion, mirroring
    * `pd.to_numeric`. This matters for ns epochs: a double only resolves
    * ~256 ns at 2024 magnitudes, so the long path is required for
    * truncation-exact ns→µs.
    */
  def epochToTimestamp(c: Column, unit: String, dt: DataType): Column = {
    val integral = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    if (integral) {
      // Exact long arithmetic; `div` is SQL integral division (truncating),
      // matching DuckDB's ns→µs truncation bit-for-bit.
      val v = c.cast("long")
      unit match {
        case "s"  => timestamp_seconds(v)
        case "ms" => timestamp_millis(v)
        case "us" => timestamp_micros(v)
        case "ns" => timestamp_micros(call_function("div", v, lit(1000L)))
      }
    } else {
      val n = Normalize.tryNum(c)
      unit match {
        case "s"  => timestamp_seconds(n)
        case "ms" => timestamp_micros((n * 1000).cast("long"))
        case "us" => timestamp_micros(n.cast("long"))
        case "ns" => timestamp_micros((n / 1000).cast("long"))
      }
    }
  }

  /** T4 — string → timestamp with coerce-to-null (pandas
    * `to_datetime(errors="coerce")`; pipeline.py:139). `try_to_timestamp`,
    * NOT `to_timestamp`, which throws under ANSI.
    */
  def stringToTimestamp(c: Column): Column = try_to_timestamp(c)

  /** The full reference rule for a raw timestamp column
    * (pipeline.py:130-141): missing → all-null; numeric-looking → epoch
    * conversion at `epochUnit`; otherwise (`epochUnit` None) string parse
    * with coercion. The decision comes from a [[Probe]] of the raw column,
    * so this is a lazy transform that starts no Spark job.
    */
  def parseTimestampColumn(df: DataFrame, colName: String,
      epochUnit: Option[String]): DataFrame =
    if (!df.columns.contains(colName))
      df.withColumn(colName, lit(null).cast("timestamp"))
    else epochUnit match {
      case Some(unit) =>
        df.withColumn(colName, epochToTimestamp(col(colName), unit, df.schema(colName).dataType))
      case None =>
        df.withColumn(colName, stringToTimestamp(col(colName).cast("string")))
    }
}
