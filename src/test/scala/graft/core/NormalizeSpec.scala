package graft.core

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** P1–P4 semantics, incl. the pandas-faithful null-coding quirks
  * (reference /root/reference/flows/pipeline.py:118-148).
  */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def applyNorm(values: Seq[String], f: Column => Column): Seq[Any] =
    col0(values.toDF("v").select(f(col("v"))))

  test("normName strips, lowers, replaces spaces") {
    assert(Normalize.normName(" Foo Bar ") == "foo_bar")
    assert(Normalize.normName("AMOUNT") == "amount")
    assert(Normalize.normName("a b c") == "a_b_c")
  }

  test("normalizeNames renames all columns") {
    val df = Seq((1, 2)).toDF(" Time Stamp ", "AMOUNT")
    assert(Normalize.normalizeNames(df).columns.toSeq == Seq("time_stamp", "amount"))
  }

  test("normAddress: trim; ''/'nan'/'None' -> null; case otherwise preserved") {
    assert(applyNorm(Seq(" abc ", "", "nan", "None", "NONE", "NaN"), Normalize.normAddress)
      == Seq("abc", null, null, null, "NONE", "NaN"))
  }

  test("normTransactionType: lower-then-replace quirk keeps 'None' as 'none'") {
    // pipeline.py:122-123 lowers FIRST, so the literal "None" has become
    // "none" before the exact-match replace and is NOT nulled.
    assert(applyNorm(Seq(" SALE ", "None", "NaN", "", "nan"), Normalize.normTransactionType)
      == Seq("sale", "none", null, null, null))
  }

  test("normRegion: '0' is a null literal; '00' and '0.0' are not") {
    assert(applyNorm(Seq("eu", "0", "00", "0.0", "", "None"), Normalize.normRegion)
      == Seq("eu", null, "00", "0.0", null, null))
  }

  test("tryNum coerces unparseable to null (ANSI-safe)") {
    assert(applyNorm(Seq("12.5", "-3", "abc", "", "1e3"), c => Normalize.tryNum(c))
      == Seq(12.5, -3.0, null, null, 1000.0))
  }
}
