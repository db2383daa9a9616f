package graft.core

import java.io.FileNotFoundException

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the driver's parquet fixtures (TESTDATA.md).
  *
  * All tables are plain parquet scans — Catalyst pushes filters/projections
  * down to the vectorized reader, so callers should NOT pre-materialize.
  *
  * Schemas come from one driver-side footer read: [[table]] lists the
  * table's [[dataFiles]], converts the first one's footer with Spark's own
  * converter ([[footerSchema]]) and hands the result to the reader, so a
  * fixture read plans with zero Spark jobs (a schema-less
  * `spark.read.parquet` runs one inference job per read). The file choice
  * and the conversion are the ones Spark's inference makes with
  * `mergeSchema` off, so the schema, embedded Spark metadata included, is
  * the one a plain read would infer. Nothing is cached, so nothing can go
  * stale when a fixture is regenerated.
  */
object Io {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    dataFiles(spark, path).headOption match {
      case Some(first) => spark.read.schema(footerSchema(spark, first)).parquet(path)
      // no data file directly under the path: Spark resolves it itself, so
      // a missing path or an empty dir raises Spark's own AnalysisException
      // (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA) and a partitioned dir
      // still gets its partition columns
      case None => spark.read.parquet(path)
    }
  }

  /** The parquet data files of `path`, in the order Spark's schema
    * inference takes them: the path itself when it is a file, else the
    * files directly under it sorted by path, skipping names that start
    * with `_` or `.` (`_SUCCESS`, summary and checksum files). Empty when
    * the path does not exist.
    */
  def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val status =
      try fs.getFileStatus(p) catch { case _: FileNotFoundException => return Nil }
    if (!status.isDirectory) Seq(status)
    else fs.listStatus(p).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.toString)
  }

  /** Spark schema of one parquet file, read from its footer on the driver
    * and converted by Spark's own code (`ParquetFileFormat.
    * readSchemaFromFooter`): a schema Spark embedded in the file wins, the
    * parquet types are converted otherwise. The session's conf drives the
    * conversion, so a TIMESTAMP(NANOS) column raises PARQUET_TYPE_ILLEGAL
    * here unless the session reads nanos as longs. `nanosAsLong = true`
    * forces that reading for this one conversion and leaves the session
    * untouched.
    */
  def footerSchema(spark: SparkSession, file: FileStatus,
      nanosAsLong: Boolean = false): StructType = {
    val conf =
      if (!nanosAsLong) spark.sessionState.conf
      else {
        val c = spark.sessionState.conf.clone()
        c.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
        c
      }
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(conf))
  }

  /** Fresh unique temp dir for a roundtrip/sink query. A FIXED shared path
    * would let concurrent sessions (or a plan-building consumer racing an
    * executing one) overwrite each other's parts mid-read, so every
    * invocation gets `<tmpRoot>/<tag>_<nanos>` and the PREVIOUS
    * invocation's dir for the same `tag` is deleted here (bounded-leak
    * contract, same as LlmQueries' pin registry: execute one result before
    * building the next). Each tag belongs to one call site.
    */
  def freshTmpDir(spark: SparkSession, tag: String): String = {
    val dir = s"$tmpRoot/${tag}_${System.nanoTime()}"
    Option(lastTmpDir.put(tag, dir)).foreach { old =>
      try {
        val p = new org.apache.hadoop.fs.Path(old)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      } catch { case NonFatal(_) => () }
    }
    dir
  }

  private val lastTmpDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The one per-JVM parent of every [[freshTmpDir]] dir,
    * `<java.io.tmpdir>/graft_<random>`. A dir is otherwise deleted only
    * when a later call replaces it, so the last one per tag would outlive
    * the JVM; a shutdown hook deletes the parent and everything under it
    * instead.
    */
  private lazy val tmpRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft_").toFile
    sys.addShutdownHook {
      try org.apache.commons.io.FileUtils.deleteDirectory(root)
      catch { case NonFatal(_) => () }
    }
    root
  }

  /** Fixture stamp of `<sfDir>/<table>.parquet`: part-file count + max
    * mtime + total bytes, the key of every [[FixtureMemo]]. A
    * driver-side regen moves at least one of the three; an unstampable dir
    * returns a nonce so the caller can never produce — or hit — a memo
    * entry for it. Hadoop FS walk, so non-local sfDirs stamp correctly.
    */
  def fixtureStamp(spark: SparkSession, sfDir: String, table: String): String =
    try {
      val path = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(path, true)
      var n = 0L; var maxM = 0L; var bytes = 0L
      while (it.hasNext) {
        val s = it.next()
        n += 1; maxM = math.max(maxM, s.getModificationTime); bytes += s.getLen
      }
      if (n == 0) s"nofiles|${System.nanoTime()}"
      else s"$n|$maxM|$bytes"
    } catch { case NonFatal(_) => s"nostamp|${System.nanoTime()}" }

  /** Runs one streaming replay to completion and returns its checkpoint
    * dir (x189 reads its state store from it). The replay queries write a
    * fixture projection to parquet and stream it back under AvailableNow,
    * so every replay takes the same steps, decided here:
    *
    *   - `input` is written to a fresh `<tag>_in` dir, which replaces the
    *     tag's previous one. `coalesce(4)` caps the part count for the read
    *     side: it bounds the per-micro-batch file-task count however wide
    *     the producing scan is (guide §6: small files hurt twice). Today's
    *     fixtures are single small files, so the cap is a no-op there.
    *     File count cannot affect results: every replay is a keyed
    *     stateful operator.
    *   - The checkpoint is a fresh `<tag>_ck` dir on every call: state
    *     reused across runs would corrupt the replay (the x121 rule).
    *   - 8 state partitions: the count is pinned at the checkpoint's first
    *     batch, and every micro-batch commits one state store per
    *     partition, which is fixed cost, not data cost. At real scale
    *     this is sized to executors. `rocksDb` also selects the RocksDB
    *     state store, which the `transformWithState` replays need.
    *   - `query` gets the stream over the input dir and returns its writer
    *     (sink, output mode, query name); the checkpoint and the trigger
    *     are added here. When the replay ends or throws, each conf it set
    *     gets its prior value back, or is unset if the session had not set
    *     it.
    */
  def replay(input: DataFrame, tag: String, rocksDb: Boolean)(
      query: DataFrame => DataStreamWriter[_]): String = {
    val spark = input.sparkSession
    val inDir = freshTmpDir(spark, s"${tag}_in")
    input.coalesce(4).write.parquet(inDir)
    val ckDir = freshTmpDir(spark, s"${tag}_ck")
    val confs = Seq("spark.sql.shuffle.partitions" -> "8") ++ Option.when(rocksDb)(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val prior = confs.map { case (k, _) =>
      k -> Option.when(spark.sessionState.conf.contains(k))(spark.conf.get(k))
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try query(spark.readStream.schema(input.schema).parquet(inDir))
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    ckDir
  }

  /** Events reader — SCHEMA-ADAPTIVE on the physical type of `ts`, because
    * the driver's fixture generator has shipped two generations of this file
    * and a 100 TB lake never has just one file vintage either (the reference's
    * defining trait is exactly this schema-defensive ingestion —
    * /root/reference/flows/pipeline.py:131-141):
    *
    *   - parquet TIMESTAMP(NANOS): Spark's reader rejects it outright
    *     ([PARQUET_TYPE_ILLEGAL]) unless `spark.sql.legacy.parquet.nanosAsLong`
    *     is set, which surfaces the nanos as a LongType — we truncate to
    *     native µs TimestampType with exact integer division, the same ns→µs
    *     truncation DuckDB applies when IT reads such a file.
    *   - parquet TIMESTAMP(MICROS) (current fixtures): already Spark-native.
    *     `isAdjustedToUTC=false` makes Spark infer TimestampNTZType; under the
    *     repo-wide UTC session timezone the cast to TimestampType is
    *     value-preserving and matches DuckDB's naive-as-UTC `epoch_*` reading.
    *
    * Contract for callers: `ts` is a µs-precision TimestampType, identical to
    * what DuckDB sees, whatever the file vintage.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = eventsUnderlying(spark, sfDir)
    if (!df.columns.contains("ts")) return df // schema-defensive: ts absent
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case dt => throw new IllegalStateException(
        s"events.ts has unsupported type $dt (expected long ns, timestamp, or timestamp_ntz)")
    }
  }

  /** The epoch-NANOS-LONG view of events — used by queries whose time math is
    * exact integer arithmetic (funnels, cohort weeks, as-of joins). Contract
    * for callers: `ts` is a LongType epoch-ns, bit-identical to DuckDB's
    * `epoch_ns(ts)` on the same file. On ns-long fixtures that's the stored
    * value; on µs-timestamp fixtures it's `unix_micros * 1000` (lossless —
    * the stored precision IS µs, so no information is manufactured).
    *
    * NB: epoch-unit DETECTION (T1) is exercised on synthesized columns of
    * every unit in r7 (queries/Reference.scala), not on this derived view —
    * detecting a unit the reader itself chose would prove nothing.
    */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val df = eventsUnderlying(spark, sfDir)
    if (!df.columns.contains("ts")) return df // schema-defensive: ts absent
    df.schema("ts").dataType match {
      case LongType         => df
      case TimestampType    => df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case dt => throw new IllegalStateException(
        s"events.ts has unsupported type $dt (expected long ns, timestamp, or timestamp_ntz)")
    }
  }

  private def eventsUnderlying(spark: SparkSession, sfDir: String): DataFrame = {
    // Try the clean read first: on µs/timestamp vintages (the current
    // fixtures) NO conf is touched, so event-reading queries leave the
    // session exactly as they found it (the x109 order-independence rule —
    // a session-wide nanosAsLong would make a later raw read of a
    // ns-vintage file silently see BIGINT). Only when the footer actually
    // carries TIMESTAMP(NANOS) — which CANNOT be read at all without the
    // legacy conf, so [[footerSchema]] raises PARQUET_TYPE_ILLEGAL on the
    // driver — is it set, session-wide and deliberately left on:
    // restoring it after the lazy DataFrame returns would strand the
    // execution-time scan, and on such a fixture every events consumer
    // needs it anyway (the x109 canary reports the vintage that round).
    try table(spark, sfDir, "events")
    catch {
      case NonFatal(e)
          if String.valueOf(e.getMessage).contains("PARQUET_TYPE_ILLEGAL") =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        table(spark, sfDir, "events")
    }
  }

  /** S4 — single-file HEADERED CSV with the exact target name, like the
    * reference's `COPY … TO 'curated/region_risk_avg.csv'`
    * (/root/reference/flows/pipeline.py:214-215). Spark writes a directory of
    * part files; we write one part (coalesce(1)) and rename it to the target
    * via the Hadoop FileSystem API, so the helper works on HDFS/object stores
    * too, not just local disk.
    *
    * SMALL-RESULT-ONLY: coalesce(1) collapses the final stage to one task.
    * Correct for top-k / per-group summaries; never use for fact-sized data.
    */
  def writeSingleCsv(df: DataFrame, target: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark  = df.sparkSession
    val tmpDir = new Path(target + "._spark_tmp")
    df.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(tmpDir.toString)
    val fs    = tmpDir.getFileSystem(spark.sessionState.newHadoopConf())
    // strict .csv glob: a configured compression codec produces
    // part-*.csv.gz, which must FAIL here rather than be silently renamed
    // to a .csv target that isn't valid CSV
    val parts = fs.globStatus(new Path(tmpDir, "part-*.csv"))
    require(parts != null && parts.nonEmpty,
      s"no plain part-*.csv under $tmpDir (compression codec configured?)")
    val part = parts.head.getPath
    val dst  = new Path(target)
    // recursive: the pre-existing target may be a DIRECTORY (the layout a
    // plain coalesce-write under the same name produces); a non-recursive
    // delete of a non-empty dir fails and surfaces as a confusing rename error
    if (fs.exists(dst)) fs.delete(dst, true)
    require(fs.rename(part, dst), s"rename $part -> $dst failed")
    fs.delete(tmpDir, true)
  }

  /** JSON-lines sink — the interchange format LLM training corpora actually
    * ship in. One part per task (parallel write, no single-file
    * bottleneck); optional gzip, the de-facto .jsonl.gz convention. NB a
    * gzip part is NOT splittable — read parallelism equals file count, so
    * the writing job's partitioning sets the reading job's; size parts
    * accordingly (or use parquet for processing and jsonl only at the
    * interchange edge).
    */
  def writeJsonl(df: DataFrame, dir: String, compress: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
    (if (compress) w.option("compression", "gzip") else w).json(dir)
  }

  /** Compact a parquet directory of many small files into ~`targetBytes`
    * files — the small-files problem is the silent killer of 100 TB lakes
    * (every file costs a listing round-trip, a footer read, and a task).
    * File count is computed from the directory's actual byte size, and the
    * shrink uses `coalesce` (merges partitions with NO shuffle and no
    * round-robin pre-sort) rather than `repartition`. Trade stated:
    * coalesce caps the compaction job's read parallelism at the output
    * file count, which is the accepted shape for an IO-bound maintenance
    * job. Returns the output file count.
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.hadoop.fs.Path
    val in = new Path(inDir)
    val fs = in.getFileSystem(spark.sessionState.newHadoopConf())
    val total = fs.getContentSummary(in).getLength
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir).coalesce(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }

  /** ORC interchange sink — the OTHER columnar lake format a corpus
    * engine must speak (Hive-era lakes and Trino/Presto deployments are
    * ORC-first). Unlike jsonl.gz parts, ORC stripes are SPLITTABLE and
    * self-describing: read parallelism does not depend on the writing
    * job's partitioning, and no schema needs shipping out-of-band. One
    * part per task, same parallel-write contract as [[writeJsonl]].
    */
  def writeOrc(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").orc(dir)

  /** ORC source. Self-describing (footer schema), so no inference scan
    * exists to avoid; predicate pushdown reaches the stripe/row-group
    * indexes exactly as with parquet.
    */
  def readOrc(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(dir)

  /** XML interchange sink (Spark 4's BUILT-IN xml source — the spark-xml
    * package donated to core in 4.0): one `<doc>` element per row, field
    * elements per column, writer-escaped markup (`&amp;`/`&lt;`), one part
    * per task like [[writeJsonl]]. XML is the interchange edge for
    * feed/catalog/corpus drops (arXiv, PubMed, Wikipedia dumps are all
    * XML); like jsonl it is row-based and schema-free on the wire, so the
    * reader must supply the schema.
    */
  def writeXml(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").option("rowTag", "doc").format("xml").save(dir)

  /** XML source. Caller-supplied schema for the same no-inference-scan
    * reason as [[readJsonl]] (XML inference is an extra full pass plus
    * type-guessing ambiguity). Wire contract (pinned by XmlSpec): an empty
    * string writes as an empty element (`<f></f>`) and reads back as ""; a
    * NULL field omits the element entirely and reads back null — Spark 4's
    * built-in xml keeps the two distinct, so the roundtrip is exact even
    * for empty-vs-null-sensitive columns.
    */
  def readXml(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("rowTag", "doc").format("xml").load(dir)

  /** Plain-text TSV sink over the documents shape — the lowest common
    * denominator the tokenizer-training and corpus-exchange tools actually
    * consume (one document per line). Line = tab-joined
    * doc_id, lang, source, n_chars, text with TEXT LAST, so the reader can
    * split with a field limit and document text containing tabs survives;
    * embedded NEWLINES are the one thing the format cannot carry (a line IS
    * the record) — [[readText]]'s split contract documents that boundary.
    * One part per task like [[writeJsonl]]; .text() writes a single string
    * column.
    */
  def writeText(df: DataFrame, dir: String): Unit =
    df.select(org.apache.spark.sql.functions.concat_ws("\t",
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("n_chars"),
        org.apache.spark.sql.functions.col("text")).as("value"))
      .write.mode("overwrite").text(dir)

  /** Plain-text TSV source: split each line back into the documents shape.
    * `split(value, "\t", 5)` caps the field count so tabs INSIDE the text
    * column re-join losslessly; numeric fields re-cast via try_cast — a
    * malformed line (e.g. the fragment after an embedded newline, the
    * format's documented boundary) yields nulls instead of killing the
    * whole read, the same corrupt-tolerance posture as [[readJsonl]]'s
    * PERMISSIVE mode.
    */
  def readText(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.text(dir)
      .select(split(col("value"), "\t", 5).as("f"))
      .select(
        try_element_at(col("f"), lit(1)).try_cast("bigint").as("doc_id"),
        try_element_at(col("f"), lit(5)).as("text"),
        try_element_at(col("f"), lit(2)).as("lang"),
        try_element_at(col("f"), lit(3)).as("source"),
        try_element_at(col("f"), lit(4)).try_cast("bigint").as("n_chars"))
  }

  /** JSON-lines source. A caller-supplied schema skips the inference scan
    * (a full extra pass over the corpus — never acceptable at scale) and is
    * REQUIRED here for exactly that reason; columns resolve by name, extra
    * JSON fields are ignored, missing ones read as null. Corrupt lines land
    * in `_corrupt_record` when the schema declares it (PERMISSIVE default)
    * instead of failing the job.
    */
  def readJsonl(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(dir)
}
