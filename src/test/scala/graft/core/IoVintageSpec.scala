package graft.core

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-drift canary (round-7 postmortem): the driver's events fixture
  * has shipped `ts` as parquet TIMESTAMP(NANOS) longs AND as µs timestamps,
  * and a reader hard-coded to one vintage silently killed 24 queries. This
  * spec synthesizes BOTH vintages and proves `Io.events` / `Io.eventsRaw`
  * return the identical logical view for each:
  *
  *   - events:    ts is µs-precision TimestampType
  *   - eventsRaw: ts is the epoch-ns long, == DuckDB's epoch_ns(ts)
  *
  * Spark cannot author TIMESTAMP(NANOS) annotations, so the ns vintage is
  * written with parquet-hadoop's example writer: a real annotated column,
  * the one Spark refuses with PARQUET_TYPE_ILLEGAL unless the session reads
  * nanos as longs, so `Io.eventsUnderlying`'s retry runs here.
  */
class IoVintageSpec extends SparkSpec {

  // 2024-01-01T00:00:07.179575Z in each unit; second row exercises a
  // non-zero sub-ms µs remainder.
  private val micros = Seq(1704067207179575L, 1704067432824425L)

  private def tmp(name: String): String =
    s"${tmpDir(s"graft_vintage_$name")}/events.parquet"

  private def writeVintage(path: String, tsCol: org.apache.spark.sql.Column,
      tsType: DataType): Unit = {
    val base = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, micros(0), 10L, "click", 1.5, "{}"),
        Row(2L, micros(1), 11L, "purchase", 2.5, "{}")),
      StructType(Seq(
        StructField("event_id", LongType), StructField("us", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
    base.select(col("event_id"), tsCol.cast(tsType).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def check(sfDir: String): Unit = {
    val ev = Io.events(spark, sfDir)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(col0[Long](ev.orderBy("event_id").select(unix_micros(col("ts"))))
      === micros)
    val raw = Io.eventsRaw(spark, sfDir)
    assert(raw.schema("ts").dataType === LongType)
    assert(col0[Long](raw.orderBy("event_id").select(col("ts")))
      === micros.map(_ * 1000L))
  }

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** `events.parquet` with `ts` as INT64 TIMESTAMP(NANOS, isAdjustedToUTC =
    * false), the logical type pyarrow writes for a naive ns column.
    */
  private def writeNanosVintage(path: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    val conf = spark.sessionState.newHadoopConf()
    val string = LogicalTypeAnnotation.stringType()
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(string).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(string).named("props")
      .named("schema")
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq((1L, micros(0), 10L, "click", 1.5), (2L, micros(1), 11L, "purchase", 2.5))
      .foreach { case (id, us, user, kind, v) =>
        w.write(groups.newGroup().append("event_id", id).append("ts", us * 1000L)
          .append("user_id", user).append("event_type", kind).append("value", v)
          .append("props", "{}"))
      }
    finally w.close()
  }

  /** A fixture dir whose events table is the ns vintage and whose other
    * tables are the sf0.001 fixture's, so every table x109 audits exists.
    */
  private def nanosFixture(): String = {
    val dir = tmpDir("graft_vintage_nsdir")
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        dir.resolve(s"$t.parquet"))
    writeNanosVintage(s"$dir/events.parquet")
    dir.toString
  }

  test("ns-long vintage (legacy fixture shape) reads to the same view") {
    val dir = nanosFixture()
    assert(spark.conf.getOption(nanosKey).forall(_ == "false"),
      "the retry must start from a session that refuses nanos")
    try {
      // the file really is the vintage Spark refuses without the legacy conf
      val file = Io.dataFiles(spark, s"$dir/events.parquet").head
      val e = intercept[org.apache.spark.sql.AnalysisException](Io.footerSchema(spark, file))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"))
      check(dir)
    } finally spark.conf.unset(nanosKey)
  }

  test("x109 audits the ns vintage as BIGINT and leaves the session conf as it found it") {
    val dir = nanosFixture()
    val before = spark.conf.getOption(nanosKey)
    try {
      val ts = graft.queries.MultimodalQueries.x109SchemaAudit(spark, dir)
        .where("table_name = 'events' AND column_name = 'ts'").select("dtype")
      assert(col0[String](ts) === Seq("BIGINT"))
      assert(spark.conf.getOption(nanosKey) === before)
      // the audit's forced reading did not leak: a plain read still refuses
      val file = Io.dataFiles(spark, s"$dir/events.parquet").head
      intercept[org.apache.spark.sql.AnalysisException](Io.footerSchema(spark, file))
    } finally spark.conf.unset(nanosKey)
  }

  test("µs-timestamp NTZ vintage (current fixture shape) reads to the same view") {
    val path = tmp("ntz")
    writeVintage(path, timestamp_micros(col("us")), TimestampNTZType)
    // confirm the synthesized file really is the current fixture shape:
    // NTZ round-trips through parquet as isAdjustedToUTC=false
    assert(spark.read.parquet(path).schema("ts").dataType === TimestampNTZType)
    check(path.stripSuffix("/events.parquet"))
  }

  test("µs-timestamp UTC-adjusted vintage reads to the same view") {
    val path = tmp("tz")
    writeVintage(path, timestamp_micros(col("us")), TimestampType)
    check(path.stripSuffix("/events.parquet"))
  }
}
