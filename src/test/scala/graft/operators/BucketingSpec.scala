package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The two layout tools that kill shuffles/IO at cluster scale, asserted
  * against the physical plan: bucketed tables co-locate equi-joins and
  * key-aggregations (no Exchange anywhere), partitioned directories prune
  * scans to the filtered values.
  */
class BucketingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("join and agg between co-bucketed tables plan with ZERO shuffle Exchange") {
    val docs = graft.core.Io.table(spark, sf, "documents")
    val ta = s"bkt_docs_${System.nanoTime()}"
    val tb = s"bkt_stats_${System.nanoTime()}"
    Bucketing.writeBucketed(docs.select("doc_id", "lang", "text"), ta, "doc_id", 4)
    Bucketing.writeBucketed(
      docs.select(col("doc_id"), length(col("text")).as("n")), tb, "doc_id", 4)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // no broadcast: force the join to exercise the co-location property
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(ta).join(spark.table(tb), "doc_id")
      val jp = joined.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$jp")
      assert(joined.count() == docs.count())

      // aggregation on the bucket key: scan already satisfies the
      // required distribution — single-stage agg, no shuffle
      val agg = spark.table(ta).groupBy("doc_id").agg(count(lit(1)).as("c"))
      val ap = agg.queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange"),
        s"bucket-key aggregation must not shuffle:\n$ap")
      assert(agg.count() == docs.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql(s"DROP TABLE IF EXISTS $ta")
      spark.sql(s"DROP TABLE IF EXISTS $tb")
    }
  }

  test("partitioned layout prunes the scan to the filtered lang directories") {
    val docs = graft.core.Io.table(spark, sf, "documents")
    val dir = tmpDir("part_docs").toString
    Bucketing.writePartitioned(docs, dir, "lang")
    val en = spark.read.parquet(dir).filter(col("lang") === "en")
    val p = en.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"lang filter must prune partitions, not scan+filter:\n$p")
    // pruning is real: only the en/ directory's files are in the scan
    val scannedFiles = en.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scannedFiles.nonEmpty && scannedFiles.forall(_.contains("lang=en")),
      s"scan read outside lang=en: ${scannedFiles.mkString(", ")}")
    assert(en.count() == docs.filter(col("lang") === "en").count())
  }
}
