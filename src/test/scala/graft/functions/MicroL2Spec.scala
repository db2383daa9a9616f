package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[MicroL2]]'s null POISON semantics and the oracle precondition
  * they rely on (advice r13): the DuckDB sides of x352/x354 use
  * `list_sum` over per-lane terms, which SKIPS null lanes and would
  * return a partial distance where micro_l2 returns null — so engine
  * parity requires the fixture embeddings to be lane-null-free. The
  * fixture assertion here turns a silent oracle desync (a regenerated
  * fixture shipping a null lane) into a failing test.
  */
class MicroL2Spec extends SparkSpec {

  private def microL2(a: String, b: String) =
    call_function("micro_l2", expr(a), expr(b))

  test("micro_l2 exact value on plain lanes") {
    // Σ ⌊(x−y)²·10⁶+0.5⌋ over (1.5−0.5)²=1, (2−(−1))²=9 → 1e6 + 9e6
    val v = spark.range(1)
      .select(microL2("array(1.5d, 2.0d)", "array(0.5d, -1.0d)"))
      .head().getLong(0)
    assert(v === 10000000L)
  }

  test("micro_l2 poisons null lane, null array, and length mismatch") {
    val df = spark.range(1).select(
      microL2("array(1.0d, cast(null as double))", "array(1.0d, 2.0d)").as("a"),
      microL2("array(1.0d, 2.0d)", "cast(null as array<double>)").as("b"),
      microL2("array(1.0d, 2.0d)", "array(1.0d)").as("c"))
    val r = df.head()
    assert(r.isNullAt(0), "null lane must poison the distance")
    assert(r.isNullAt(1), "null array must poison the distance")
    assert(r.isNullAt(2), "length mismatch must poison the distance")
  }

  test("fixture embeddings are lane-null-free (x352/x354 oracle precondition)") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/embeddings.parquet").exists()) {
        val bad = graft.core.Io.table(spark, dir, "embeddings")
          .filter(col("embedding").isNull ||
            exists(col("embedding"), _.isNull))
          .count()
        assert(bad === 0L,
          s"$sf embeddings carry null lanes: micro_l2 poisons these pairs " +
            "while the DuckDB list_sum oracle keeps them understated — " +
            "x352/x354 would desync (see MicroL2 Scaladoc)")
      }
    }
  }
}
