package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Streaming DQ gate: conformant micro-batches flow to curated, dirty ones
  * to quarantine, per-batch metrics surface via the decision callback; plus
  * the watermarked windowed aggregation shape.
  */
class StreamingQualitySpec extends SparkSpec {
  import spark.implicits._

  // (timestamp, transaction_type, amount) — the three gated columns
  private type Tx = (Option[java.sql.Timestamp], Option[String], Option[Double])
  private def ts(s: String) = Some(java.sql.Timestamp.valueOf(s))

  test("gated foreachBatch routes batches by conformity and reports metrics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tx]
    val curated    = tmpDir("stream_cur").toString + "/out"
    val quarantine = tmpDir("stream_q").toString + "/out"
    val decisions  = ArrayBuffer.empty[StreamingQuality.BatchDecision]

    val q = input.toDF()
      .toDF("timestamp", "transaction_type", "amount")
      .writeStream
      .foreachBatch(StreamingQuality.gated(curated, quarantine, 0.98, decisions += _))
      .start()
    try {
      // batch 0: clean
      input.addData((1 to 50).map(i => (ts(s"2024-01-01 00:00:${i % 60}"), Some("sale"), Some(i.toDouble))): _*)
      q.processAllAvailable()
      // batch 1: half the amounts null → conformity 0.5 → quarantined
      input.addData((1 to 50).map(i =>
        (ts(s"2024-01-01 01:00:${i % 60}"), Some("sale"),
          if (i % 2 == 0) None else Some(i.toDouble))): _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(decisions.map(_.passed).toSeq == Seq(true, false))
    assert(decisions(1).metrics.ruleViolations("amount_not_null") == 25)
    assert(spark.read.parquet(curated).count() == 50)
    assert(spark.read.parquet(quarantine).count() == 50)
  }

  test("windowedCounts: event-time windows with watermark aggregate per minute") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tx]
    val sink = s"windowed_counts_${System.nanoTime()}"
    val q = StreamingQuality.windowedCounts(
        input.toDF().toDF("timestamp", "transaction_type", "amount"))
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:10"), Some("sale"), Some(10.0)),
        (ts("2024-01-01 00:00:40"), Some("sale"), Some(5.0)),
        (ts("2024-01-01 00:01:10"), Some("refund"), Some(2.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(sink)
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("transaction_type"), col("n_events"), col("sum_amount"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(rows == Set(("00:00", "sale", 2L, 15.0), ("00:01", "refund", 1L, 2.0)))
  }
}
