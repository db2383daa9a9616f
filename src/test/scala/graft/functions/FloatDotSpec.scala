package graft.functions

import graft.SparkSpec
import graft.queries.ExtendedQueries
import org.apache.spark.sql.functions._
import scala.util.Random

/** FloatDot must be value-identical to the higher-order reference
  * formulation (same index order, same double accumulation, null poisoning)
  * in both the codegen and interpreted paths.
  */
class FloatDotSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(7)

  private def randVecs(n: Int, dim: Int): Seq[(Seq[Float], Seq[Float])] =
    Seq.fill(n)((Seq.fill(dim)(rnd.nextFloat() * 2 - 1), Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))

  test("float_dot equals the zip_with/aggregate formulation bit-for-bit") {
    val df = randVecs(200, 64).toDF("a", "b")
    val cmp = df.select(
      ExtendedQueries.dot(col("a"), col("b")).as("ho"),
      ExtendedQueries.nativeDot(col("a"), col("b")).as("native"))
    assert(cmp.filter(col("ho") =!= col("native")).isEmpty) // exact, not approx
    assert(cmp.filter(col("native").isNull).isEmpty)
  }

  test("float_dot: null array or null element poisons to null; empty arrays give 0") {
    val df = Seq(
      (Some(Seq(1f, 2f)), Some(Seq(3f, 4f))),        // 11.0
      (None, Some(Seq(1f, 2f))),                     // null array
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])) // 0.0
    ).toDF("a", "b")
    val out = col0(df.select(ExtendedQueries.nativeDot(col("a"), col("b"))))
    assert(out == Seq(11.0, null, 0.0))
    // null ELEMENT: build via array(lit(null)) casts
    val withNullElem = spark.sql(
      "SELECT float_dot(array(cast(1.0 as float), cast(null as float)), " +
        "array(cast(2.0 as float), cast(3.0 as float))) AS d")
    assert(col0(withNullElem) == Seq(null))
  }

  test("float_dot works in both codegen and interpreted evaluation") {
    val df = randVecs(50, 16).toDF("a", "b")
    val expected = df.select(ExtendedQueries.dot(col("a"), col("b"))).collect().toSeq
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val got = df.select(ExtendedQueries.nativeDot(col("a"), col("b"))).collect().toSeq
        assert(got == expected, s"mismatch under $codegen")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
