package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** cms_estimate must agree with the count_min_sketch aggregate's hashing
  * (same bytes added and probed), never undercount, preserve nulls, and be
  * identical in codegen and interpreted paths.
  */
class CmsEstimateSpec extends SparkSpec {
  import spark.implicits._

  private def sketchOf(items: Seq[String]) = {
    items.toDF("s")
      .agg(expr("count_min_sketch(s, cast(0.0001 as double), cast(0.99 as double), 42)"))
      .head().getAs[Array[Byte]](0)
  }

  test("estimate is exact on a sparse sketch; probe hashing matches the aggregate") {
    val items = Seq.fill(7)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")
    val sk = sketchOf(items)
    val out = Seq("alpha", "beta", "gamma", "absent").toDF("s")
      .select(col("s"), call_function("cms_estimate", lit(sk), col("s")).as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // width 2/0.0001 = 20k cells, 4 distinct items: collisions impossible
    assert(out == Map("alpha" -> 7L, "beta" -> 3L, "gamma" -> 1L, "absent" -> 0L))
  }

  test("estimate never undercounts under heavy collision pressure") {
    val items = (0 until 2000).map(i => s"item_$i")
    val sk = items.toDF("s")
      .agg(expr("count_min_sketch(s, cast(0.5 as double), cast(0.9 as double), 7)"))
      .head().getAs[Array[Byte]](0) // width 4: everything collides
    val est = items.toDF("s")
      .select(call_function("cms_estimate", lit(sk), col("s")))
      .collect().map(_.getLong(0))
    assert(est.forall(_ >= 1L), "CMS may only overcount, never undercount")
  }

  test("null item gives null; both execution paths agree") {
    val sk = sketchOf(Seq("x", "x", "y"))
    val df = Seq(Some("x"), Some("y"), Some("z"), None).toDF("s")
    var byMode = Map.empty[String, Seq[Any]]
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try byMode += mode -> col0(df.select(call_function("cms_estimate", lit(sk), col("s"))))
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(byMode("CODEGEN_ONLY") == Seq(2L, 1L, 0L, null))
    assert(byMode("CODEGEN_ONLY") == byMode("NO_CODEGEN"))
  }
}
