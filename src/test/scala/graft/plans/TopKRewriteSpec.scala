package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The window→top-k optimizer rule: fires only on the exact
  * Project/Filter/row_number-Window shape under the opt-in conf, preserves
  * results, and leaves every non-matching variant untouched.
  */
class TopKRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: DataFrame = {
    val rng = new scala.util.Random(11)
    (0L until 3000L).map(i => (i % 23, rng.nextInt(40).toDouble, i))
      .toDF("k", "v", "id").repartition(5)
  }

  private def windowTopK(df: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("v").desc, col("id").asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  private def withFlag[T](on: Boolean)(f: => T): T = {
    val key = "spark.graft.topk.rewrite"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("flag on: the window form plans as TopKPerKey and results are unchanged") {
    val df = fixture
    val (planOn, rowsOn) = withFlag(on = true) {
      val q = windowTopK(df, 3)
      (q.queryExecution.executedPlan.toString, q.collect().map(_.toSeq).toSet)
    }
    assert(planOn.contains("TopKPerKeyFinal") && planOn.contains("TopKPerKeyPartial"),
      s"rewrite must fire on the canonical shape:\n$planOn")
    assert(!planOn.contains("Window ") && !planOn.contains("WindowGroupLimit"),
      "the Window node must be gone, with no WindowGroupLimit left behind")
    val rowsOff = withFlag(on = false)(windowTopK(df, 3).collect().map(_.toSeq).toSet)
    assert(rowsOn == rowsOff)
  }

  test("flag off (default): the window plan is untouched") {
    val p = withFlag(on = false)(windowTopK(fixture, 3).queryExecution.executedPlan.toString)
    assert(!p.contains("TopKPerKey"), "rule must be inert without the opt-in conf")
  }

  test("rn = 1 latest-per-key form rewrites too") {
    val df = fixture
    withFlag(on = true) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("v").desc, col("id").asc)
      val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      assert(q.queryExecution.executedPlan.toString.contains("TopKPerKeyFinal"))
      assert(q.count() == 23)
    }
  }

  test("guards: rank(), kept rn column, and compound filters are never rewritten") {
    val df = fixture
    withFlag(on = true) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("v").desc, col("id").asc)
      // rank() has tie semantics the fold does not reproduce
      val r1 = df.withColumn("rn", rank().over(w)).filter(col("rn") <= 3).drop("rn")
      assert(!r1.queryExecution.executedPlan.toString.contains("TopKPerKey"))
      // rn kept in the output — the caller wants rank VALUES
      val r2 = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      assert(!r2.queryExecution.executedPlan.toString.contains("TopKPerKey"))
      // compound condition — may be half-pushed, left alone
      val r3 = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3 && col("v") > 1.0).drop("rn")
      assert(!r3.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    }
  }
}
