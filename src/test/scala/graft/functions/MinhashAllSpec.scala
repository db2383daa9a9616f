package graft.functions

import graft.SparkSpec
import graft.queries.LlmQueries
import org.apache.spark.sql.functions._

/** Native one-pass minhash_all vs the exploded SQL formulation: the two
  * must be byte-identical, since x13b shares x13's oracle.
  */
class MinhashAllSpec extends SparkSpec {
  import spark.implicits._

  test("minhash_all matches the exploded md5-min formulation exactly") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox"),
      (3L, "one two three"),
      (4L, "twotokens only"),   // < 3 tokens -> null
      (5L, ""),                 // single empty token -> null
      (6L, "a  b c")            // double space: empty middle token kept
    ).toDF("doc_id", "text")
    val native = docs
      .select(col("doc_id"), call_function("minhash_all", col("text"), lit(4)).as("mh"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1).toList)).toMap

    // reference: explode + group-min, the x13 formulation
    val exploded = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"), explode(expr(
        """CASE WHEN size(toks) < 3 THEN CAST(array() AS ARRAY<INT>)
          |ELSE sequence(1, size(toks) - 2) END""".stripMargin)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        expr("element_at(toks, i)"), expr("element_at(toks, i + 1)"),
        expr("element_at(toks, i + 2)")).as("shingle"))
      .groupBy("doc_id")
      .agg(min(md5(concat(lit("0|"), col("shingle")))).as("m0"),
        (1 until 4).map(j =>
          min(md5(concat(lit(s"$j|"), col("shingle")))).as(s"m$j")): _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getString).toList).toMap

    assert(native(4L) == null && native(5L) == null)
    for (id <- Seq(1L, 2L, 3L, 6L)) assert(native(id) == exploded(id), s"doc $id")
  }

  test("x13b (native signature) equals x13 (exploded signature) row-for-row") {
    val sf = "/root/testdata/sf0.001"
    val a = LlmQueries.x13MinhashNearDedup(spark, sf).collect().toSeq
    val b = LlmQueries.x13bMinhashNative(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("type checking rejects non-string input and non-literal k") {
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(call_function("minhash_all", col("a"), lit(16))).collect()
    }
    assert(e.getMessage.contains("string"))
  }
}
