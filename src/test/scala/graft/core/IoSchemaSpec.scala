package graft.core

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException

/** `Io.table` takes its schema from one driver-side footer read instead of
  * Spark's inference job. The schema must be the one a plain
  * `spark.read.parquet` infers (metadata included), building a fixture
  * read must start no Spark job, and a bad path must fail as before.
  */
class IoSchemaSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("every fixture table reads with the schema Spark infers, metadata included") {
    for (sf <- sfDirs; t <- tables)
      assert(Io.table(spark, sf, t).schema === spark.read.parquet(s"$sf/$t.parquet").schema,
        s"$sf/$t")
  }

  test("building Io.table, Io.events and Io.eventsRaw starts no Spark job") {
    val sf = sfDirs.head
    assert(jobsDuring(spark.read.parquet(s"$sf/nation.parquet")) > 0,
      "a schema-less read runs its inference job, so the counter sees jobs")
    for (sf <- sfDirs) {
      val jobs = jobsDuring {
        tables.foreach(Io.table(spark, sf, _))
        Io.events(spark, sf)
        Io.eventsRaw(spark, sf)
      }
      assert(jobs === 0, sf)
    }
  }

  test("a table Spark wrote as a directory (_SUCCESS, crc files) reads with the same schema") {
    val dir = tmpDir("graft_ioschema").toString
    val path = s"$dir/lineitem.parquet"
    Io.table(spark, sfDirs.head, "lineitem").repartition(3).write.parquet(path)
    assert(new java.io.File(s"$path/_SUCCESS").isFile)
    val files = Io.dataFiles(spark, path)
    assert(files.size === 3)
    assert(files.forall(_.getPath.getName.startsWith("part-")))
    val df = Io.table(spark, dir, "lineitem")
    assert(df.schema === spark.read.parquet(path).schema)
    assert(df.count() === Io.table(spark, sfDirs.head, "lineitem").count())
  }

  test("a missing table or a directory without data still throws AnalysisException") {
    val dir = tmpDir("graft_ioschema").toString
    intercept[AnalysisException](Io.table(spark, dir, "no_such_table"))
    assert(new java.io.File(s"$dir/empty.parquet").mkdir())
    intercept[AnalysisException](Io.table(spark, dir, "empty"))
  }
}
