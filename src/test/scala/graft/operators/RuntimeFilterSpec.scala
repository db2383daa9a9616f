package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The two runtime-filtering behaviors Catalyst contributes to the 100 TB
  * story: injected bloom filters (big-side rows rejected before the join
  * shuffle) and dynamic partition pruning (fact partitions skipped based on
  * the dim filter's runtime result).
  */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  test("selective dim filter injects a bloom filter on the fact side") {
    val savedBloom = spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val savedScan = spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val savedBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedEnabled = spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B")
    // bloom filters are only injected for probable SHUFFLE joins — a
    // broadcast-size dim disqualifies, so force the shuffle path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = tmpDir("bloom").toString
      spark.range(50000).select(col("id").as("fk"), (col("id") * 2).as("v"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("tag"))
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === 3)
      val joined = fact.join(dim.hint("shuffle_hash"), col("fk") === col("k"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom filter, got:\n$plan")
      assert(joined.count() == 143) // ids with id%7==3 in [0,1000): 143
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBcast)
      savedEnabled.fold(spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled"))(
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", _))
      savedBloom.fold(spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"))(
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", _))
      savedScan.fold(spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))(
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", _))
    }
  }

  test("dim filter prunes fact partitions dynamically (DPP)") {
    val dir = tmpDir("dpp").toString
    (0 until 1000).map(i => (i.toLong, (i % 5).toLong))
      .toDF("v", "part").write.partitionBy("part")
      .mode("overwrite").parquet(s"$dir/fact")
    Seq((0L, "keep"), (1L, "keep"), (2L, "drop"), (3L, "drop"), (4L, "drop"))
      .toDF("k", "verdict").write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("verdict") === "keep")
    val joined = fact.join(dim, col("part") === col("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected DPP on the partitioned fact scan, got:\n$plan")
    assert(joined.count() == 400) // parts 0 and 1 → 200 rows each
  }
}
