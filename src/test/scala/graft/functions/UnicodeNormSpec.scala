package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native nfc_normalize / strip_accents expressions must match the JDK
  * reference semantics in both codegen and interpreted paths, preserve
  * nulls, and compose/fold the documented cases exactly. All non-ASCII is
  * written as explicit \\u escapes so the source encoding can never blur
  * which form (NFC vs NFD) a literal is in.
  */
class UnicodeNormSpec extends SparkSpec {
  import spark.implicits._

  private val decomposedA = "a\u0301" // a + combining acute (NFD)
  private val composedA = "\u00e1"    // á precomposed (NFC)

  test("nfc_normalize composes; strip_accents folds; null preserved") {
    val df = Seq(
      Some(s"c${decomposedA}fe"), // cafe with decomposed a-acute
      Some(composedA),            // already NFC: unchanged
      Some("plain"),              // ASCII: identity
      None).toDF("s")
    val out = df.select(
      call_function("nfc_normalize", col("s")).as("n"),
      call_function("strip_accents", col("s")).as("st"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(
      (s"c${composedA}fe", "cafe"),
      (composedA, "a"),
      ("plain", "plain"),
      (null, null)))
  }

  test("both paths (codegen and interpreted) match the JDK reference") {
    val strs = Seq(
      s"$decomposedA o\u0308 x",       // NFD a-acute + NFD o-diaeresis
      s"$composedA\u00f6",              // already-composed pair
      s"mixed $decomposedA and \u00f6", // one of each
      "")
    val expectedNfc = strs.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    val expectedStrip = strs.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{M}+", ""))
    val df = strs.toDF("s")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(
          call_function("nfc_normalize", col("s")),
          call_function("strip_accents", col("s")))
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        assert(got == expectedNfc.zip(expectedStrip), s"mismatch under $mode")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
