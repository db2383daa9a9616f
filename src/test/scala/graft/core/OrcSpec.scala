package graft.core

import graft.SparkSpec

/** ORC source/sink: lossless roundtrip (types, nulls, float arrays kept
  * bit-identical) and footer-schema reads — the splittable columnar
  * interchange path next to JsonlSpec's line-oriented one.
  */
class OrcSpec extends SparkSpec {
  import spark.implicits._

  test("roundtrip preserves rows, schema, nulls, and float arrays") {
    val dir = tmpDir("orc").toString + "/docs"
    val in = Seq(
      (0L, "alpha beta", Array(0.5f, -1.25f)),
      (1L, "gamma", Array(2.0f, 3.5f)),
      (2L, null.asInstanceOf[String], null.asInstanceOf[Array[Float]]))
      .toDF("doc_id", "text", "emb")
    Io.writeOrc(in, dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".orc")))
    val back = Io.readOrc(spark, dir).orderBy("doc_id")
    // names+types roundtrip exactly; nullability normalizes to `true` on
    // read (file formats store no not-null contract — same as parquet)
    assert(back.schema.map(f => (f.name, f.dataType.sql)) ==
      in.schema.map(f => (f.name, f.dataType.sql)))
    val rows = back.collect()
    assert(rows.length == 3)
    assert(rows(0).getSeq[Float](2) == Seq(0.5f, -1.25f))
    assert(rows(1).getString(1) == "gamma")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("x58 aggregate over the ORC read-back equals the same aggregate over the source") {
    val dir = tmpDir("orc58").toString
    val docs = Seq(
      (0L, "a b", "en", "s0", 3L),
      (1L, "c d e", "en", "s1", 5L),
      (2L, "f", "de", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val out = graft.queries.ExtendedQueries.x58OrcRoundtrip(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("de", 1L, 1L, 1L, 2L, 2L, 1L),
      ("en", 2L, 8L, 8L, 0L, 1L, 2L)))
  }
}
