package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL source/sink: lossless roundtrip (including array<float> embedding
  * columns), schema-first reads with no inference scan, null fill for
  * missing fields, and corrupt-line capture instead of job failure.
  */
class JsonlSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("emb", ArrayType(FloatType))))

  test("roundtrip preserves rows, types, and float arrays; gzip parts are written") {
    val dir = tmpDir("jsonl").toString + "/docs"
    val in = Seq(
      (0L, "alpha beta", Array(0.5f, -1.25f)),
      (1L, "gamma", Array(2.0f, 3.5f)),
      (2L, null.asInstanceOf[String], null.asInstanceOf[Array[Float]]))
      .toDF("doc_id", "text", "emb")
    Io.writeJsonl(in, dir, compress = true)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".json.gz")))
    val back = Io.readJsonl(spark, dir, docSchema).orderBy("doc_id")
    assert(back.schema == docSchema)
    val rows = back.collect()
    assert(rows.length == 3)
    assert(rows(0).getSeq[Float](2) == Seq(0.5f, -1.25f))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("missing fields read as null; extra fields are ignored; corrupt lines are captured") {
    val dir = tmpDir("jsonl2").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part.json"),
      """{"doc_id": 1, "text": "ok", "extra": 99}
        |{"doc_id": 2}
        |not json at all
        |""".stripMargin)
    val schema = docSchema.add(StructField("_corrupt_record", StringType))
    val out = Io.readJsonl(spark, dir, schema)
      .select("doc_id", "text", "emb", "_corrupt_record").collect()
      .sortBy(r => if (r.isNullAt(0)) Long.MaxValue else r.getLong(0))
    assert(out.length == 3)
    assert(out(0).getLong(0) == 1 && out(0).getString(1) == "ok" && out(0).isNullAt(2))
    assert(out(1).getLong(0) == 2 && out(1).isNullAt(1))
    assert(out(2).isNullAt(0) && out(2).getString(3).startsWith("not json"))
  }
}
