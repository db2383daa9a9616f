package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.functions._

/** The parser extension face: the DEDUP dialect statement end-to-end
  * through the shared session, whose parser came from `injectParser`
  * (`Tuning.session` builds it with `GraftExtensions`), SQL parameters
  * passing through the parser, delegate passthrough for standard SQL, and
  * the grammar's error edges.
  */
class GraftSqlParserSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (1L, "a", "same text"),
    (2L, "b", "same text"),   // dup of 1 — must lose to doc_id 1
    (3L, "a", "unique one"),
    (4L, "c", null.asInstanceOf[String]),
    (5L, "d", null.asInstanceOf[String]), // NULL keys group: 4 survives
    (6L, "b", "another"))

  private def fixture: DataFrame = rows.toDF("doc_id", "source", "text").repartition(3)

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** The hand-written window idiom the statement must equal. */
  private def expected(df: DataFrame): Set[Seq[Any]] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    rowSet(df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn"))
  }

  test("injected session parses and runs the DEDUP statement via plain spark.sql") {
    assert(spark.sessionState.sqlParser.isInstanceOf[GraftSqlParser])
    val df = fixture
    df.createOrReplaceTempView("gsp_docs")
    val got = rowSet(spark.sql("DEDUP gsp_docs BY md5(text) ORDER BY doc_id"))
    assert(got == expected(df))
    assert(got.exists(_.head == 4L) && !got.exists(_.head == 5L),
      "NULL texts must group together, keeping the smallest doc_id")
  }

  test("injected session still parses standard SQL through the delegate") {
    fixture.createOrReplaceTempView("gsp_docs")
    assert(spark.sql("SELECT count(*) AS n FROM gsp_docs").head().getLong(0) == 6L)
    // and the other delegated faces still answer
    assert(spark.sessionState.sqlParser.parseMultipartIdentifier("a.b") == Seq("a", "b"))
    assert(spark.sessionState.sqlParser.parseDataType("int").typeName == "integer")
  }

  test("named parameters bind through the injected parser") {
    fixture.createOrReplaceTempView("gsp_docs")
    val literal = rowSet(spark.sql(
      "SELECT doc_id, source FROM gsp_docs WHERE doc_id >= 3 AND source <> 'c'"))
    val bound = rowSet(spark.sql(
      "SELECT doc_id, source FROM gsp_docs WHERE doc_id >= :lo AND source <> :src",
      Map("lo" -> 3L, "src" -> "c")))
    assert(literal.size == 3 && bound == literal)
  }

  test("EXECUTE IMMEDIATE ... USING binds through the injected parser") {
    fixture.createOrReplaceTempView("gsp_docs")
    val literal = rowSet(spark.sql(
      "SELECT source, count(*) AS n FROM gsp_docs WHERE doc_id <= 4 GROUP BY source"))
    val bound = rowSet(spark.sql(
      """EXECUTE IMMEDIATE
        |'SELECT source, count(*) AS n FROM gsp_docs WHERE doc_id <= ? GROUP BY source'
        |USING 4""".stripMargin))
    assert(literal.size == 3 && bound == literal)
  }

  test("multi-key, DESC order, and trailing semicolon") {
    val df = fixture
    df.createOrReplaceTempView("gsp_docs")
    // keep the LARGEST doc_id per (source, text) group
    val got = rowSet(spark.sql("DEDUP gsp_docs BY source, md5(text) ORDER BY doc_id DESC;"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), md5(col("text"))).orderBy(col("doc_id").desc)
    val exp = rowSet(df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn"))
    assert(got == exp)
  }

  test("backtick-quoted and multipart table identifiers survive the rewrite") {
    val df = fixture
    df.createOrReplaceTempView("gsp_docs")
    val quoted = rowSet(spark.sql("DEDUP `gsp_docs` BY md5(text) ORDER BY doc_id"))
    assert(quoted == expected(df))
    df.createOrReplaceGlobalTempView("gsp_global")
    val multipart = rowSet(spark.sql("DEDUP global_temp.gsp_global BY md5(text) ORDER BY doc_id"))
    assert(multipart == expected(df))
  }

  test("a non-identifier table part raises a ParseException") {
    intercept[ParseException] {
      GraftSqlParser.rewrite(
        "DEDUP (SELECT 1) BY k ORDER BY k", spark.sessionState.sqlParser)
    }
  }

  test("malformed key expressions fail in the delegated parse of the rewrite") {
    fixture.createOrReplaceTempView("gsp_docs")
    intercept[ParseException] {
      spark.sql("DEDUP gsp_docs BY ,, ORDER BY doc_id").collect()
    }
  }

  test("non-DEDUP text falls through to the delegate untouched") {
    assert(GraftSqlParser.rewrite("SELECT 1", spark.sessionState.sqlParser).isEmpty)
    assert(GraftSqlParser.rewrite(
      "DEDUPLICATE t BY k ORDER BY k", spark.sessionState.sqlParser).isEmpty)
    // keyword as a prefix of an identifier must not trigger
    assert(GraftSqlParser.rewrite(
      "SELECT dedup FROM t", spark.sessionState.sqlParser).isEmpty)
  }

  test("the rewrite composes with the TopKRewrite optimizer face") {
    val df = fixture
    df.createOrReplaceTempView("gsp_docs")
    val prior = spark.conf.getOption("spark.graft.topk.rewrite")
    spark.conf.set("spark.graft.topk.rewrite", "true")
    try {
      val q = spark.sql("DEDUP gsp_docs BY md5(text) ORDER BY doc_id")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"),
        s"the rn=1 rewrite output is exactly TopKRewrite's shape:\n$plan")
      assert(rowSet(q) == expected(df))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.graft.topk.rewrite", v)
      case None    => spark.conf.unset("spark.graft.topk.rewrite")
    }
  }
}
