package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The char_ngrams generator: positional windows in order, short/null
  * inputs generate nothing, n is validated at analysis, and the expansion
  * plans as a Generate node (not an array materialization).
  */
class CharNgramsSpec extends SparkSpec {
  import spark.implicits._

  test("every positional window in order; short and null inputs generate nothing") {
    val df = Seq(Some("abcde"), Some("ab"), Some("abc"), None).toDF("s")
    val out = df.select(col("s"), expr("char_ngrams(s, 3)").as("g"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(
      ("abcde", "abc"), ("abcde", "bcd"), ("abcde", "cde"),
      ("abc", "abc")))
  }

  test("n = 1 yields every character; multi-byte codepoints window correctly") {
    val out = Seq("aéb").toDF("s") // a é b — é is 2 UTF-8 bytes
      .select(expr("char_ngrams(s, 2)"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("aé", "éb"), "windows must count CODEPOINTS, not bytes")
    val ones = Seq("xyz").toDF("s").select(expr("char_ngrams(s, 1)"))
      .collect().map(_.getString(0)).toSeq
    assert(ones == Seq("x", "y", "z"))
  }

  test("invalid n fails at analysis; the expansion plans as Generate") {
    val err = intercept[Exception] {
      Seq("abc").toDF("s").select(expr("char_ngrams(s, 0)")).collect()
    }
    assert(err.getMessage.contains("char_ngrams n must be >= 1"))
    val p = Seq("abc").toDF("s").select(expr("char_ngrams(s, 2)"))
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"the generator must plan as a Generate node:\n$p")
  }
}
