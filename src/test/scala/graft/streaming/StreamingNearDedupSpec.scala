package graft.streaming

import graft.SparkSpec
import graft.queries.LlmQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Incremental near-dedup: micro-batches assigned against the persistent
  * band-bucket state must reproduce, cumulatively, what batch x13 computes
  * over the union of all batches (monotone ids).
  */
class StreamingNearDedupSpec extends SparkSpec {
  import spark.implicits._

  private val tT = (0 until 20).map(i => s"tok$i").mkString(" ")
  private val tU = (0 until 20).map(i => s"usr$i").mkString(" ")
  private val tV = (0 until 20).map(i => s"var$i").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  test("assignBatch chains: cross-batch dups resolve to the first-seen canonical") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StreamingNearDedup.stateSchema)
    val (o1, s1) = StreamingNearDedup.assignBatch(empty, docs(0L -> tT, 1L -> tU))
    val (o2, s2) = StreamingNearDedup.assignBatch(s1, docs(2L -> tT, 3L -> tV))
    val (o3, s3) = StreamingNearDedup.assignBatch(s2, docs(4L -> tU, 5L -> tT))
    def m(df: DataFrame) = df.select("doc_id", "canonical_id", "is_dup")
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(m(o1) == Seq((0L, 0L, 0), (1L, 1L, 0)))
    assert(m(o2) == Seq((2L, 0L, 1), (3L, 3L, 0)))
    assert(m(o3) == Seq((4L, 1L, 1), (5L, 0L, 1)))

    // cumulative stream output == batch x13 over the union (monotone ids)
    val dir = tmpDir("snd_union").toString
    docs(0L -> tT, 1L -> tU, 2L -> tT, 3L -> tV, 4L -> tU, 5L -> tT)
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = LlmQueries.x13MinhashNearDedup(spark, dir)
      .select("doc_id", "canonical_id", "is_dup")
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._1)
    assert((m(o1) ++ m(o2) ++ m(o3)).sortBy(_._1) == batch)

    // state is one row per distinct bucket, never per doc pair
    assert(s3.count() <= 6 * 4) // ≤ 4 buckets per unique doc
  }

  test("end-to-end stream: per-batch outputs land idempotently, state versions advance") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = tmpDir("snd_e2e").toString
    val q = StreamingNearDedup.start(
      input.toDF().toDF("doc_id", "text"),
      stateDir = s"$base/state", outDir = s"$base/out", checkpointDir = s"$base/ckpt")
    try {
      input.addData(0L -> tT, 1L -> tU)
      q.processAllAvailable()
      input.addData(2L -> tT)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$base/out")
      .select("doc_id", "canonical_id", "is_dup")
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((0L, 0L, 0), (1L, 1L, 0), (2L, 0L, 1)))
    // two state versions, second absorbs no new buckets for the dup doc
    val vs = new java.io.File(s"$base/state").listFiles()
      .filter(_.getName.startsWith("v")).map(_.getName).sorted.toSeq
    assert(vs == Seq("v0", "v1"))
    assert(spark.read.parquet(s"$base/state/v0").count() ==
      spark.read.parquet(s"$base/state/v1").count())
  }
}
