package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The two layout tools that carry a 100 TB design and that single-file
  * fixtures never exercise: hive-style partitioned writes (scans prune whole
  * directories at planning time) and bucketed tables (co-located joins and
  * aggregations skip their shuffle entirely).
  */
class PartitioningSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned parquet write + predicate → PartitionFilters prune the scan") {
    val dir = tmpDir("part").toString + "/events"
    Seq((1L, "click", 1.0), (2L, "view", 2.0), (3L, "click", 3.0), (4L, "error", 4.0))
      .toDF("event_id", "event_type", "value")
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)

    val read = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("event_type"),
      "equality on the partition column must prune at planning time, not post-scan")
    assert(read.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // the pruned scan touches only the matching partition directory
    val scanned = read.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .inputRDDs().head.partitions.map(_.toString)
    assert(scanned.nonEmpty &&
      scanned.forall(s => !s.contains("event_type=view") && !s.contains("event_type=error")))
  }

  test("ORC roundtrip with predicate pushdown — the second columnar format") {
    val dir = tmpDir("orc").toString + "/events"
    Seq((1L, "click", 1.5), (2L, "view", 2.5), (3L, "click", 3.5))
      .toDF("event_id", "event_type", "value")
      .write.mode("overwrite").orc(dir)
    val read = spark.read.orc(dir).filter(col("event_id") >= 2L)
    val plan = read.queryExecution.executedPlan.toString
    // match the concrete predicate, not just the PushedFilters key — the
    // key prints even when the list is empty
    assert(plan.contains("GreaterThanOrEqual(event_id,2)"),
      s"ORC scan must receive the pushed predicate:\n$plan")
    assert(read.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("bucketed tables co-locate the join — no Exchange on either side") {
    // unique names: a previously-crashed run can leave the managed location
    // on disk with no catalog entry, and CTAS refuses to reuse it
    val (tOrders, tCust) = (s"b_orders_${System.nanoTime()}", s"b_cust_${System.nanoTime()}")
    Seq((1L, 10L, 5.0), (2L, 20L, 6.0), (3L, 10L, 7.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable(tOrders)
    Seq((10L, "a"), (20L, "b"), (30L, "c"))
      .toDF("c_custkey", "c_name")
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable(tCust)

    // force the sort-merge path: at fixture size the dimension would
    // broadcast (itself shuffle-free, but then nothing tests bucketing)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(tOrders)
        .join(spark.table(tCust),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_custkey").agg(sum("o_totalprice").as("s"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join + bucket-key agg must be shuffle-free, got:\n$plan")
      assert(joined.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
        Map(10L -> 12.0, 20L -> 6.0))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql(s"DROP TABLE IF EXISTS $tOrders")
      spark.sql(s"DROP TABLE IF EXISTS $tCust")
    }
  }
}
