package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Small-files compaction: many tiny parquet parts in, few
  * target-sized parts out, content identical, no shuffle.
  */
class CompactionSpec extends SparkSpec {

  test("compactParquet merges small files to the byte-derived count without losing rows") {
    val in  = tmpDir("compact_in").toString
    val out = tmpDir("compact_out").toString
    // 32 tiny files of ~equal size
    spark.range(10000).select(col("id"), md5(col("id").cast("string")).as("h"))
      .repartition(32).write.mode("overwrite").parquet(in)
    def parts(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts(in) == 32)

    val total = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = total / 3 // force ~4 output files (ceil division)
    val n = Io.compactParquet(spark, in, out, target)
    assert(n == ((total + target - 1) / target).toInt)
    assert(parts(out) == n)
    // content identical (same rows, not just same count)
    val a = spark.read.parquet(in).orderBy("id").collect().toSeq
    val b = spark.read.parquet(out).orderBy("id").collect().toSeq
    assert(a == b)
  }
}
