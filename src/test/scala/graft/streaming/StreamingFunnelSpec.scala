package graft.streaming

import graft.SparkSpec
import graft.queries.ExtendedQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Streaming funnel: strict-after attribution across micro-batches, state
  * carry-over, and stream == batch x74 parity on the same event set.
  */
class StreamingFunnelSpec extends SparkSpec {
  import StreamingFunnel._
  import spark.implicits._

  test("stage transitions respect strict-after across batches; non-funnel types ignored") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val sink  = s"funnel_${System.nanoTime()}"
    val q = stages(input.toDS(), GroupStateTimeout.NoTimeout())
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      // batch 1: click BEFORE any view — not attributable; then the view
      input.addData(FunnelEvent(1L, "click", 100L), FunnelEvent(1L, "view", 200L))
      q.processAllAvailable()
      // batch 2: signup noise ignored; click same-instant as view rejected
      // (strict >), later click converts — state carried from batch 1
      input.addData(FunnelEvent(1L, "signup", 250L),
        FunnelEvent(1L, "click", 200L), FunnelEvent(1L, "click", 300L))
      q.processAllAvailable()
      // batch 3: purchase before the qualifying click's ts would be
      // rejected; this one is after → full funnel
      input.addData(FunnelEvent(1L, "purchase", 400L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(sink).as[StageOut].collect()
      .map(s => (s.stage, s.tsNanos)).toSet
    assert(out == Set(("1_view", 200L), ("2_click", 300L), ("3_purchase", 400L)))
  }

  test("stream stage counts equal batch x74 on the same events") {
    implicit val sqlCtx = spark.sqlContext
    // synthetic multi-user corpus with every funnel shape: full converts,
    // pre-view clicks, same-instant rejections, purchase-before-click
    val events = Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
      (2L, "click", 100L), (2L, "view", 200L),
      (3L, "view", 100L), (3L, "click", 100L),
      (4L, "click", 50L), (4L, "view", 100L), (4L, "click", 150L), (4L, "purchase", 200L),
      (5L, "view", 100L), (5L, "purchase", 150L), (5L, "click", 200L),
      (6L, "error", 10L), (6L, "view", 20L), (6L, "click", 30L)
    )
    // batch side: x74 over the same rows as a parquet events table
    val dir = tmpDir("sfunnel").toString
    events.zipWithIndex
      .map { case ((u, t, ts), i) => (i.toLong, u, t, ts) }
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = ExtendedQueries.x74Funnel(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // stream side: same events fed in ts order (the per-user monotone
    // arrival the contract requires), split across three micro-batches
    val input = MemoryStream[FunnelEvent]
    val sink  = s"funnel_parity_${System.nanoTime()}"
    val q = stages(input.toDS(), GroupStateTimeout.NoTimeout())
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      val ordered = events.sortBy(_._3).map { case (u, t, ts) => FunnelEvent(u, t, ts) }
      ordered.grouped((ordered.size + 2) / 3).foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val stream = spark.table(sink).as[StageOut].collect()
      .groupBy(_.stage).view.mapValues(_.length.toLong).toMap
    assert(stream == batch.filter(_._2 > 0L))
    assert(stream == Map("1_view" -> 6L, "2_click" -> 4L, "3_purchase" -> 2L))
  }
}
