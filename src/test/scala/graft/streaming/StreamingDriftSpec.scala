package graft.streaming

import graft.SparkSpec
import graft.queries.LlmQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming drift == batch x85: the merged histogram state over all
  * micro-batches must produce, through the SHARED driftReport, exactly the
  * report batch x85 computes over the union corpus — cells are a mergeable
  * sufficient statistic (per-doc score, no corpus-relative term).
  */
class StreamingDriftSpec extends SparkSpec {
  import spark.implicits._

  // two sources with different length profiles → different score bins →
  // nonzero chi-square; each batch carries BOTH sources so merging is real
  private def doc(id: Long, src: String, nTok: Int): (Long, String, String, String, Long) =
    (id, (0 until nTok).map(j => s"d${id}w$j").mkString(" "), "en", src, 10L)

  private val b1 = Seq(doc(1, "srcLow", 3), doc(2, "srcHigh", 45))
  private val b2 = Seq(doc(3, "srcLow", 5), doc(4, "srcHigh", 50), doc(5, "srcHigh", 60))
  private val b3 = Seq(doc(6, "srcLow", 4))

  private def toDocs(rows: Seq[(Long, String, String, String, Long)]): DataFrame =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  test("merged cells over batches equal the union corpus's cells") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StreamingDrift.stateSchema)
    val s1 = StreamingDrift.mergeCells(empty, toDocs(b1))
    val s2 = StreamingDrift.mergeCells(s1, toDocs(b2))
    val s3 = StreamingDrift.mergeCells(s2, toDocs(b3))
    val direct = LlmQueries.scoreCells(toDocs(b1 ++ b2 ++ b3))
    def m(df: DataFrame) = df.as[(String, Int, Long)].collect().toSet
    assert(m(s3) == m(direct))
  }

  test("end-to-end stream report equals batch x85 over the union") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String, Long)]
    val base = tmpDir("sdrift").toString
    val q = StreamingDrift.start(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      stateDir = s"$base/state", outDir = s"$base/out", checkpointDir = s"$base/ckpt")
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    // batch x85 over the union corpus, via the declared query itself
    val dir = tmpDir("sdrift_union").toString
    toDocs(b1 ++ b2 ++ b3).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def m(df: DataFrame) = df.as[(String, Long, Double)].collect().toSet
    val streamed = m(spark.read.parquet(s"$base/out/batch=2")
      .select("source", "n_docs", "chi2"))
    assert(streamed == m(LlmQueries.x85SourceDrift(spark, dir)))
    assert(streamed.exists(_._3 > 0.0), "fixture must show real drift mass")
    // intermediate reports exist per batch and state stays cell-sized
    assert(new java.io.File(s"$base/out").listFiles().count(_.getName.startsWith("batch=")) == 3)
    assert(spark.read.parquet(s"$base/state/v2").count() <= 20)
  }
}
