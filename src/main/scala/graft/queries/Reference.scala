package graft.queries

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Group R — reference-derived semantics on the `events` fixture (SURVEY
  * §2.10). Role mapping: ts→timestamp, event_type→transaction_type
  * ('purchase' plays 'sale'), value→amount, user_id→receiving_address,
  * event_id→explicit keep-first order key / deterministic tie-breaker.
  *
  * Determinism contract (shared with the DuckDB oracles): every query ends
  * in a total ORDER BY with a unique key, doubles are round(x, 6), and
  * timestamps are exported as epoch-millis BIGINT (`unix_millis` here,
  * `epoch_ms` in DuckDB — both truncate µs→ms identically).
  */
object ReferenceQueries {

  /** r1 — P1–P3/T4/F1/F2: clean & standardize, drop nulls and negatives. */
  def r1CleanStandardize(spark: SparkSession, sfDir: String): DataFrame =
    Io.events(spark, sfDir)
      .withColumn("event_type", Normalize.normTransactionType(col("event_type")))
      .withColumn("value", Normalize.tryNum(col("value")))
      .na.drop(Seq("ts", "event_type", "value"))
      .filter(col("value") >= 0)
      .select(
        col("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("user_id"),
        col("event_type"),
        round(col("value"), 6).as("value"))
      .orderBy("event_id")

  /** r2 — A2–A5: the whole DQ profile as ONE aggregation job, role-mapped
    * onto events. Conformity keeps the reference's double-counting and
    * +1e-9 epsilon (pipeline.py:88-89).
    */
  def r2DqProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val mapped = Io.events(spark, sfDir).select(
      col("ts").as("timestamp"),
      col("event_type").as("transaction_type"),
      col("value").as("amount"),
      col("user_id").cast("string").as("receiving_address"))
    val m = Quality.profile(mapped, "events")
    import spark.implicits._
    Seq((
      m.totalRows,
      m.nulls("timestamp"),
      m.nulls("transaction_type"),
      m.nulls("amount"),
      m.nulls("receiving_address"),
      m.ruleViolations("amount_non_negative"),
      m.failedRowsEstimate,
      BigDecimal(m.conformityRate).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    )).toDF(
      "total_rows", "n_null_timestamp", "n_null_transaction_type",
      "n_null_amount", "n_null_receiving_address", "v_amount_negative",
      "failed_rows_estimate", "conformity_rate")
  }

  /** r3 — D1: keep-first dedup per (user_id, event_type), first = lowest
    * event_id (the explicit, deterministic order key).
    */
  def r3DedupKeepFirst(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.keepFirst(Io.events(spark, sfDir), Seq("user_id", "event_type"), "event_id")
      .select(
        col("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("user_id"),
        col("event_type"),
        round(col("value"), 6).as("value"))
      .orderBy("event_id")

  /** r4 — A1/O1/F3: avg(value) per event_type desc (region_risk_avg
    * analog). The mean is computed from an exact decimal sum and rounded
    * bit-deterministically: a plain double avg is summation-order-dependent
    * (Spark's partial merge vs DuckDB's sequential scan), and group sizes
    * of the form 2^a·5^b make exactly-on-the-rounding-boundary means
    * reachable — the x16 divergence class.
    */
  def r4GroupAvg(spark: SparkSession, sfDir: String): DataFrame =
    Io.events(spark, sfDir)
      .filter(col("event_type").isNotNull)
      .groupBy("event_type")
      .agg(ExtendedQueries.stableRound6(ExtendedQueries.exactAvg(col("value")))
        .as("avg_value"))
      .orderBy(desc("avg_value"), col("event_type"))

  /** r5 — W1/F4/F5: latest 'purchase' per user (row_number, ts desc with
    * event_id desc tie-break — the reference's query is tie-nondeterministic;
    * ours is total).
    */
  def r5LatestPerKey(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Io.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        round(col("value"), 6).as("value"),
        unix_millis(col("ts")).as("ts_ms"),
        col("event_id"))
      .orderBy("user_id")

  }

  /** r6 — O2: top-3 of r5 by value desc (plans as TakeOrderedAndProject —
    * per-partition top-k, no full sort).
    */
  def r6TopK(spark: SparkSession, sfDir: String): DataFrame =
    r5LatestPerKey(spark, sfDir)
      .orderBy(desc("value"), col("user_id"))
      .limit(3)

  /** r7 — T1/T3: epoch-unit detection + conversion, exercised on ALL FOUR
    * units at once. The fixture's stored precision is whatever the driver
    * generated (ns longs in early vintages, µs timestamps now), so detecting
    * on the stored column alone would either be a single fixed unit or — on
    * a reader-derived long — a unit the reader itself manufactured
    * (vacuous). Instead: synthesize genuine epoch columns at s/ms/us/ns
    * magnitudes from the real timestamps, run T1's median-magnitude
    * detection on each (ONE aggregation pass of the Timestamps.Probe
    * counters the pipeline's pre-gate profile carries — detectEpochUnits),
    * convert each back with its DETECTED unit (T3's exact long paths), and
    * emit both the detected units and the round-tripped epoch-µs. A wrong
    * detection shifts the µs values by 1000× and flips the unit literals, so
    * the oracle catches it either way. Reference spec: pipeline.py:25-37.
    */
  def r7EpochRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val probes = Seq("ep_s", "ep_ms", "ep_us", "ep_ns")
    val ev = Io.events(spark, sfDir).select(
      col("event_id"),
      unix_seconds(col("ts")).as("ep_s"),
      unix_millis(col("ts")).as("ep_ms"),
      unix_micros(col("ts")).as("ep_us"),
      (unix_micros(col("ts")) * 1000L).as("ep_ns"))
    val unit = Timestamps.detectEpochUnits(ev, probes)
    def roundtrip(c: String) =
      unix_micros(Timestamps.epochToTimestamp(col(c), unit(c), LongType))
    ev.select(
        col("event_id"),
        lit(unit("ep_s")).as("unit_s"),
        lit(unit("ep_ms")).as("unit_ms"),
        lit(unit("ep_us")).as("unit_us"),
        lit(unit("ep_ns")).as("unit_ns"),
        roundtrip("ep_s").as("us_from_s"),
        roundtrip("ep_ms").as("us_from_ms"),
        roundtrip("ep_us").as("us_from_us"),
        roundtrip("ep_ns").as("us_from_ns"))
      .orderBy("event_id")
  }
}
