package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** min_window_md5 ≡ the HOF reference form it replaced (x17's old body),
  * on fixture text and the edge classes: short-of-width, exact-width,
  * multi-byte codepoints (substring is CODEPOINT-based), null.
  */
class MinWindowMd5Spec extends SparkSpec {
  import spark.implicits._

  private def hofForm = expr(
    """CASE WHEN length(text) < 8 THEN md5(text)
      |ELSE array_min(transform(sequence(1, length(text) - 7),
      |       i -> md5(substring(text, i, 8)))) END""".stripMargin)

  test("equals the HOF reference form on sf0.001 documents") {
    val docs = graft.core.Io.table(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("text").isNotNull)
    val diff = docs.select(
        call_function("min_window_md5", col("text"), lit(8)).as("a"),
        hofForm.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("edges: short, exact-width, multi-byte codepoints, null") {
    val df = Seq(
      Some("abc"),                 // shorter than width → md5(whole)
      Some("exactly8"),            // one window
      Some("café résumé naïve"), // multi-byte chars
      None: Option[String]
    ).toDF("text")
    val rows = df.select(
        call_function("min_window_md5", col("text"), lit(8)).as("a"),
        hofForm.as("b"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0))
      else assert(r.getString(0) == r.getString(1))
    }
    // the short branch is md5 of the whole string
    assert(rows(0).getString(0) == md5hex("abc"))
  }
}
