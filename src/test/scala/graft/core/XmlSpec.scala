package graft.core

import graft.SparkSpec

/** XML source/sink (Spark 4's built-in xml format): lossless roundtrip
  * including markup escaping, schema-on-read (no inference pass), and the
  * wire contract — empty string writes as an empty element and reads back
  * "", null omits the element and reads back null, so the two stay
  * DISTINCT — pinned explicitly so Io.readXml's documented contract can
  * never silently drift.
  */
class XmlSpec extends SparkSpec {
  import spark.implicits._

  test("roundtrip preserves rows, types, nulls, and escapes markup") {
    val dir = tmpDir("xml").toString + "/docs"
    val in = Seq(
      (0L, "alpha <beta> & \"gamma\"", "en", 21L),
      (1L, "plain text", "de", 10L),
      (2L, null.asInstanceOf[String], "fr", 0L))
      .toDF("doc_id", "text", "lang", "n_chars")
    Io.writeXml(in, dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".xml")))
    val back = Io.readXml(spark, dir, in.schema).orderBy("doc_id")
    assert(back.schema.map(f => (f.name, f.dataType.sql)) ==
      in.schema.map(f => (f.name, f.dataType.sql)))
    val rows = back.collect()
    assert(rows.length == 3)
    // markup survives through writer escaping (&lt;beta&gt; on the wire)
    assert(rows(0).getString(1) == "alpha <beta> & \"gamma\"")
    assert(rows(1).getString(1) == "plain text")
    assert(rows(2).isNullAt(1))
  }

  test("wire contract: empty string and null stay distinct (documented in Io.readXml)") {
    val dir = tmpDir("xmlnull").toString + "/docs"
    val in = Seq((0L, ""), (1L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    Io.writeXml(in, dir)
    val back = Io.readXml(spark, dir, in.schema).orderBy("doc_id").collect()
    // empty → <text></text> → "" (non-null); null → element omitted → null.
    // If the format ever collapses them, the Io scaladoc must change.
    assert(!back(0).isNullAt(1) && back(0).getString(1) == "")
    assert(back(1).isNullAt(1))
  }

  test("x121 aggregate over the XML read-back equals the same aggregate over the source") {
    val dir = tmpDir("xml121").toString
    val docs = Seq(
      (0L, "a b", "en", "s0", 3L),
      (1L, "c d & e", "en", "s1", 7L),
      (2L, "f", "de", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val out = graft.queries.ExtendedQueries.x121XmlRoundtrip(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("de", 1L, 1L, 1L, 2L, 2L, 1L),
      ("en", 2L, 10L, 10L, 0L, 1L, 2L)))
  }
}
