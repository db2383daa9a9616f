package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data-quality profiling and gating (SURVEY §2.6, §2.9; reference
  * /root/reference/flows/pipeline.py:51-108,235-261).
  *
  * The reference runs 6+ separate whole-column pandas scans; the Spark shape
  * is ONE aggregation job — every null counter and rule counter is a
  * `sum(when(...))` in a single `agg`, so the profile costs one pass with
  * map-side partial aggregation regardless of table size.
  */
object Quality {

  /** Thrown by gates; carries the reference's exit semantics
    * (pre-gate → exit 2 per README, post-gate publishes first then fails).
    */
  final class QualityGateException(msg: String) extends RuntimeException(msg)

  val ProfiledColumns: Seq[String] =
    Seq("timestamp", "transaction_type", "amount", "receiving_address",
      "location_region", "risk_score")

  val NotNullRules: Seq[(String, String)] = Seq(
    "timestamp_not_null"        -> "timestamp",
    "transaction_type_not_null" -> "transaction_type",
    "amount_not_null"           -> "amount")

  final case class DqMetrics(
      phase: String,
      totalRows: Long,
      nulls: Map[String, Long],
      ruleViolations: Map[String, Long],
      failedRowsEstimate: Long,
      conformityRate: Double)

  /** A2–A5 in one aggregation pass. `amount` is coerced to numeric FIRST
    * (pipeline.py:99-101: dq_checks runs to_numeric(errors="coerce") before
    * profiling), so an unparseable amount string counts as an amount NULL in
    * BOTH the nulls map and the amount_not_null rule — pinned by the
    * differential e2e against the reference itself (DifferentialRefSpec).
    * A row breaking k rules counts k times; conformity
    * = max(0, 1 - fails/(total+1e-9)) — double-counting and the epsilon are
    * preserved exactly (pipeline.py:88-89). total=0 ⇒ rate≈1.0 ⇒ pass.
    */
  def profile(df: DataFrame, phase: String): DqMetrics = profile(df, phase, Nil)._1

  /** [[profile]] with `extra` aggregate columns riding in the same pass;
    * also returns the aggregate's row, which holds them under their aliases.
    */
  def profile(df: DataFrame, phase: String, extra: Seq[Column]): (DqMetrics, Row) = {
    val present = ProfiledColumns.filter(df.columns.contains)

    // pandas isna() counts float NaN as missing (it IS pandas' missing
    // marker); Spark keeps NaN distinct from null, so a double column that
    // ingested a "NaN" token (Spark CSV's nanValue) must count it here too.
    def isNa(v: Column, dt: org.apache.spark.sql.types.DataType): Column =
      dt match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => v.isNull || isnan(v)
        case _ => v.isNull
      }

    def nullCount(c: String): Column = {
      val miss =
        if (c == "amount") // coerced first (pipeline.py:99-101) → double
          isNa(Normalize.tryNum(col(c)), org.apache.spark.sql.types.DoubleType)
        else isNa(col(c), df.schema(c).dataType)
      sum(when(miss, 1L).otherwise(0L)).as(s"null_$c")
    }

    val nullAggs = present.map(nullCount)
    val negAgg: Option[Column] =
      if (df.columns.contains("amount"))
        Some(sum(when(Normalize.tryNum(col("amount")) < 0, 1L).otherwise(0L))
          .as("neg_amount"))
      else None

    val aggs = count(lit(1)).as("total") +: (nullAggs ++ negAgg.toSeq ++ extra)
    val row  = df.agg(aggs.head, aggs.tail: _*).first()

    val total = row.getAs[Long]("total")
    val nulls = present.map(c => c -> row.getAs[Long](s"null_$c")).toMap

    val notNullViolations = NotNullRules.collect {
      case (rule, c) if nulls.contains(c) => rule -> nulls(c)
    }
    val negViolations = negAgg.map(_ => "amount_non_negative" -> row.getAs[Long]("neg_amount"))
    val rules = (notNullViolations ++ negViolations).toMap

    val fails = rules.values.sum
    val conformity = math.max(0.0, 1.0 - fails / (total + 1e-9))
    (DqMetrics(phase, total, nulls, rules, fails, conformity), row)
  }

  /** C2/C3 — threshold gate. Caller controls publish-before-throw ordering
    * (the reference publishes inspection artifacts first; Pipeline.run does
    * the same).
    */
  def gate(m: DqMetrics, threshold: Double): Unit =
    if (m.conformityRate < threshold)
      throw new QualityGateException(
        f"Conformity ${m.phase} (${m.conformityRate}%.4f) < $threshold — failing on quality policy.")

  /** JSON document mirroring data/dq_metrics_*.json (pipeline.py:53-64,105). */
  def toJson(m: DqMetrics): String = {
    def obj(entries: Seq[String]): String = entries.mkString("{", ", ", "}")
    val nulls = obj(ProfiledColumns.filter(m.nulls.contains)
      .map(c => s""""$c": ${m.nulls(c)}"""))
    val ruleNames = NotNullRules.map(_._1) :+ "amount_non_negative"
    val rules = obj(ruleNames.map { r =>
      m.ruleViolations.get(r) match {
        case Some(v) => s""""$r": {"violations": $v}"""
        case None    => s""""$r": null"""
      }
    })
    obj(Seq(
      s""""phase": "${m.phase}"""",
      s""""total_rows": ${m.totalRows}""",
      s""""nulls": $nulls""",
      s""""rules": $rules""",
      s""""failed_rows_estimate": ${m.failedRowsEstimate}""",
      s""""conformity_rate": ${m.conformityRate}"""))
  }
}
