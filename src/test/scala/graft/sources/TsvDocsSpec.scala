package graft.sources

import graft.SparkSpec
import graft.core.Io
import org.apache.spark.sql.functions._

/** The DSv2 TSV connector must agree row-for-row with Io.readText, plan
  * one partition per file, prune columns through the V2 interface, and
  * null out malformed lines instead of failing the task.
  */
class TsvDocsSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(n: Int, parts: Int): String = {
    val dir = tmpDir("tsvdocs").toString + "/docs"
    val df = (1 to n).map(i =>
      (i.toLong, s"text body $i", "en", s"src${i % 3}", i.toLong * 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(parts)
    Io.writeText(df, dir)
    dir
  }

  test("connector output equals Io.readText row-for-row") {
    val dir = writeDocs(50, 4)
    val v2 = spark.read.format("graft.sources.TsvDocs").load(dir)
      .orderBy("doc_id").collect().toSeq
    val v1 = Io.readText(spark, dir).orderBy("doc_id").collect().toSeq
    assert(v2 == v1)
    assert(v2.size == 50)
  }

  test("one input partition per part file") {
    val dir = writeDocs(40, 5)
    val v2 = spark.read.format("graft.sources.TsvDocs").load(dir)
    assert(v2.rdd.getNumPartitions == 5,
      "planInputPartitions must emit one partition per part- file")
  }

  test("a direct FILE path reads as one partition (not silently zero rows)") {
    val dir = writeDocs(10, 1)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val df = spark.read.format("graft.sources.TsvDocs").load(file.toString)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 10)
  }

  test("column pruning reaches the scan: only requested fields parse") {
    val dir = writeDocs(10, 1)
    val df = spark.read.format("graft.sources.TsvDocs").load(dir)
      .select("doc_id", "source")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("struct<doc_id:bigint,source:string>"),
      s"pruned ReadSchema must carry exactly the requested columns:\n$p")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (1 to 10).map(i => (i.toLong, s"src${i % 3}")).toSet)
    // count(*) (empty projection) still counts rows
    assert(spark.read.format("graft.sources.TsvDocs").load(dir).count() == 10)
  }

  test("EqualTo pushdown: filter evaluated at the source, result identical") {
    val dir = writeDocs(30, 3)
    val df = spark.read.format("graft.sources.TsvDocs").load(dir)
      .filter(col("source") === "src1")
    val p = df.queryExecution.executedPlan.toString
    // Spark infers IsNotNull ahead of the equality; both push
    assert(p.contains("PushedFilters: [IsNotNull(source), EqualTo(source,src1)]"),
      s"the source must advertise the pushed filters:\n$p")
    val expect = Io.readText(spark, dir).filter(col("source") === "src1")
      .orderBy("doc_id").collect().toSeq
    assert(df.orderBy("doc_id").collect().toSeq == expect && expect.nonEmpty)
  }

  test("pushed IsNotNull on a long column drops malformed lines — SQL null semantics") {
    val dir = tmpDir("tsvpush").toString + "/docs"
    new java.io.File(dir).mkdirs()
    val w = new java.io.PrintWriter(s"$dir/part-00000", "UTF-8")
    w.println("1\ten\tsrc0\t10\tok")
    w.println("oops\ten\tsrc0\t10\tmalformed id") // doc_id parses null
    w.close()
    val df = spark.read.format("graft.sources.TsvDocs").load(dir)
      .filter(col("doc_id").isNotNull)
    assert(df.queryExecution.executedPlan.toString.contains("IsNotNull(doc_id)"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "a line whose long field cannot parse must fail IsNotNull at the source")
  }

  test("unsupported filter shapes stay with Spark; result still correct") {
    val dir = writeDocs(20, 2)
    val df = spark.read.format("graft.sources.TsvDocs").load(dir)
      .filter(col("n_chars") > 100)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("PushedFilters: [GreaterThan"),
      "GreaterThan is not in the accepted set — it must stay above the scan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (11 to 20).map(_.toLong))
  }

  test("V2 write → V2 read roundtrip; commit leaves no .tmp files behind") {
    val dir = tmpDir("tsvw").toString + "/docs"
    val df = (1 to 40).map(i =>
      (i.toLong, s"body with\ttab $i", Option.when(i % 7 != 0)("en"),
        s"src${i % 3}", i.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars").repartition(4)
    df.write.format("graft.sources.TsvDocs").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.forall(!_.startsWith(".tmp")), s"tmp files must be renamed away: ${files.toSeq}")
    assert(files.count(_.startsWith("part-")) == 4, "one committed part per task")
    val back = spark.read.format("graft.sources.TsvDocs").load(dir)
      .orderBy("doc_id").collect()
    assert(back.length == 40)
    assert(back(0).getString(1) == "body with\ttab 1", "in-text tab survives the cycle")
    // null lang wrote as empty string: the TSV wire cannot carry null-vs-
    // empty for strings (documented boundary; longs roundtrip null via parse)
    assert(back(6).getString(2) == "")
  }

  test("overwrite truncates: old parts are gone, only the new write remains") {
    val dir = tmpDir("tsvow").toString + "/docs"
    def w(n: Int) = (1 to n).map(i => (i.toLong, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").repartition(2)
    w(30).write.format("graft.sources.TsvDocs").mode("append").save(dir)
    w(5).write.format("graft.sources.TsvDocs").mode("overwrite").save(dir)
    assert(spark.read.format("graft.sources.TsvDocs").load(dir).count() == 5)
  }

  test("malformed lines yield nulls, not task failures (the Io.readText contract)") {
    val dir = tmpDir("tsvbad").toString + "/docs"
    new java.io.File(dir).mkdirs()
    val w = new java.io.PrintWriter(s"$dir/part-00000", "UTF-8")
    w.println("1\ten\tsrc0\t10\tgood line")
    w.println("not-a-number\ten\tsrc0\tNaNx\tstill readable")
    w.println("7\tde") // short line: missing fields -> null
    w.close()
    val rows = spark.read.format("graft.sources.TsvDocs").load(dir)
      .orderBy(col("doc_id").asc_nulls_first).collect()
    assert(rows.length == 3)
    assert(rows(0).isNullAt(0) && rows(0).getString(2) == "en") // bad doc_id
    assert(rows(1).getLong(0) == 1L && rows(1).getString(1) == "good line")
    assert(rows(2).getLong(0) == 7L && rows(2).isNullAt(1) && rows(2).isNullAt(4))
  }

  test("aggregate pushdown: partials from multiple files merge to the exact result") {
    val dir = writeDocs(60, 4) // 4 part files, sources src0/src1/src2
    val agg = spark.read.format("graft.sources.TsvDocs").load(dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), min("n_chars").as("mn"),
        max("n_chars").as("mx"), sum("n_chars").as("sm"))
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregates: [COUNT(*), MIN(n_chars), MAX(n_chars), SUM(n_chars)]"),
      s"aggregates must reach the scan:\n$p")
    val got = agg.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // ground truth straight from the generator: doc i → src(i%3), n_chars 10i
    val want = (1 to 60).groupBy(i => s"src${i % 3}").map { case (s, is) =>
      s -> (is.size.toLong, is.min * 10L, is.max * 10L, is.map(_ * 10L).sum)
    }
    assert(got == want, s"got=$got want=$want")
  }

  test("aggregate pushdown skips null values: MIN/MAX/SUM of an all-null group is null") {
    val dir = tmpDir("tsvaggnull").toString + "/docs"
    new java.io.File(dir).mkdirs()
    val w = new java.io.PrintWriter(s"$dir/part-00000", "UTF-8")
    w.println("1\ten\tsrc0\t10\ta")
    w.println("2\ten\tsrc0\tbad\tb") // malformed n_chars -> null
    w.println("3\ten\tsrc1\tbad\tc") // src1: ONLY null n_chars
    w.close()
    val rows = spark.read.format("graft.sources.TsvDocs").load(dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), min("n_chars").as("mn"), sum("n_chars").as("sm"))
      .orderBy("source").collect()
    assert(rows(0).getString(0) == "src0" && rows(0).getLong(1) == 2L
      && rows(0).getLong(2) == 10L && rows(0).getLong(3) == 10L)
    assert(rows(1).getString(0) == "src1" && rows(1).getLong(1) == 1L
      && rows(1).isNullAt(2) && rows(1).isNullAt(3))
  }

  test("unsupported aggregate shapes are declined and Spark computes them — result still correct") {
    val dir = writeDocs(30, 2)
    // count(DISTINCT …) is not partially pushable: the builder declines the
    // WHOLE aggregation and the plan falls back to a row scan
    val agg = spark.read.format("graft.sources.TsvDocs").load(dir)
      .groupBy("source").agg(countDistinct("n_chars").as("d"))
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("PushedAggregates"), s"count distinct must not push:\n$p")
    val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = (1 to 30).groupBy(i => s"src${i % 3}")
      .map { case (s, is) => s -> is.map(_ * 10L).distinct.size.toLong }
    assert(got == want)
  }

  test("avg() pushes as its SUM+COUNT decomposition (Spark's rewrite), result exact") {
    val dir = writeDocs(30, 2)
    val agg = spark.read.format("graft.sources.TsvDocs").load(dir)
      .groupBy("source").agg(avg("n_chars").as("a"))
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregates: [SUM(n_chars), COUNT(n_chars)]"),
      s"avg must push as sum+count:\n$p")
    val got = agg.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = (1 to 30).groupBy(i => s"src${i % 3}")
      .map { case (s, is) => s -> is.map(_ * 10.0).sum / is.size }
    assert(got == want)
  }

  test("aggregate pushdown composes with pushed filters: only matching lines aggregate") {
    val dir = writeDocs(30, 2)
    val agg = spark.read.format("graft.sources.TsvDocs").load(dir)
      .filter(col("source") === "src1")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregates") && p.contains("EqualTo(source,src1)"),
      s"both the filter and the aggregate must reach the scan:\n$p")
    val rows = agg.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "en"
      && rows(0).getLong(1) == (1 to 30).count(_ % 3 == 1).toLong)
  }
}
