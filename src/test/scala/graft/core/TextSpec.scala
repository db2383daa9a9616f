package graft.core

import graft.SparkSpec

/** Plain-text TSV source/sink: lossless roundtrip of the documents shape,
  * including TABS inside the text column (text rides last; the reader
  * splits with a field limit so the tail re-joins) and bigint re-casts.
  * The documented boundary — embedded newlines cannot roundtrip because a
  * line IS the record — is pinned here so Io.writeText's scaladoc can
  * never silently drift.
  */
class TextSpec extends SparkSpec {
  import spark.implicits._

  test("roundtrip preserves rows and types; in-text tabs survive the limit-split") {
    val dir = tmpDir("txt").toString + "/docs"
    val in = Seq(
      (0L, "plain words only", "en", "src0", 16L),
      (1L, "text\twith\ttabs inside", "de", "src1", 21L),
      (2L, "", "fr", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Io.writeText(in, dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("part-")))
    val back = Io.readText(spark, dir).orderBy("doc_id").collect()
    assert(back.length == 3)
    assert(back(0).getString(1) == "plain words only")
    assert(back(1).getString(1) == "text\twith\ttabs inside",
      "tabs inside the LAST field must re-join under the split limit")
    assert(back(2).getString(1) == "")
    assert(back.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(back.map(_.getLong(4)).toSeq == Seq(16L, 21L, 0L))
    assert(back.map(_.getString(3)).toSeq == Seq("src0", "src1", "src0"))
  }

  test("documented boundary: an embedded newline splits the record (line IS the record)") {
    val dir = tmpDir("txtnl").toString + "/docs"
    Io.writeText(Seq((0L, "line one\nline two", "en", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val back = Io.readText(spark, dir).collect()
    // the record fractures at the newline: 2 lines, the second a fragment
    // — this is the format's documented limit, not a bug to paper over
    assert(back.length == 2)
    assert(back.count(_.isNullAt(4)) == 1, "the fragment line has no n_chars field")
  }
}
