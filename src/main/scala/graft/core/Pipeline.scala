package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, Future, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-equivalent end-to-end flow (SURVEY §0, §2.9; reference
  * /root/reference/flows/pipeline.py:222-265):
  *
  *   ingest CSV → DQ pre-gate (on the RAW frame, before name normalization)
  *   → clean & standardize → DQ post-gate → business transforms → publish.
  *
  * The driver program IS the orchestration (no Prefect analog needed): plain
  * function composition, with the gates' publish-before-throw ordering
  * preserved. All transforms are lazy DataFrames. Before the gate the
  * pre-clean profile is the only action over the raw frame: `clean`'s
  * timestamp probe rides in its aggregate, so `clean` starts no job. The
  * cleaned frame is cached before the post-clean profile, which fills the
  * cache every published output reads, so a run scans and cleans the CSV
  * once after the pre-gate. Jobs run at CSV schema inference, the two DQ
  * profiles and each published output; the six sinks run at the same time
  * from one pool.
  *
  * Errors surface in order: the pre profile's; the pre-gate (raw snapshot
  * written, then the gate's exception); `clean`'s analysis errors; the post
  * profile's; then the first sink failure in declared order (later ones
  * attached with `addSuppressed`), once every sink has finished.
  */
object Pipeline {

  final case class Result(
      staged: DataFrame,
      regionRiskAvg: DataFrame,
      lastSalePerAddress: DataFrame,
      top3RecentSales: DataFrame,
      dqPre: Quality.DqMetrics,
      dqPost: Quality.DqMetrics)

  /** S1 — headered CSV scan with schema inference (pipeline.py:41-47), with
    * input order stamped immediately so keep-first dedup stays faithful.
    * String columns get pandas' default NA tokens null-coded (the reference
    * ingests via pd.read_csv, whose na_values turn "None"/"NULL"/"NaN"/…
    * into NaN BEFORE the pre-clean DQ profile runs — see
    * Normalize.PandasNaTokens; pinned by DifferentialRefSpec).
    */
  def ingestCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(path)
    val naCoded = raw.select(raw.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        Normalize.pandasNaToNull(col(f.name)).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
    Dedup.stampIngestOrder(naCoded)
  }

  /** pipeline.py:112-160 — the full clean_and_standardize task. Every access
    * is guarded on column presence; missing timestamp/amount synthesize as
    * all-null (P4). `epochUnit` is the raw timestamp column's
    * [[Timestamps.Probe.epochUnit]], so building the frame starts no job.
    */
  def clean(df0: DataFrame, epochUnit: Option[String]): DataFrame = {
    var df = Normalize.normalizeNames(df0)

    if (df.columns.contains("receiving_address"))
      df = df.withColumn("receiving_address", Normalize.normAddress(col("receiving_address")))
    if (df.columns.contains("transaction_type"))
      df = df.withColumn("transaction_type", Normalize.normTransactionType(col("transaction_type")))
    if (df.columns.contains("location_region"))
      df = df.withColumn("location_region", Normalize.normRegion(col("location_region")))

    df = Timestamps.parseTimestampColumn(df, "timestamp", epochUnit)

    df =
      if (df.columns.contains("amount"))
        df.withColumn("amount", Normalize.tryNum(col("amount")))
      else df.withColumn("amount", lit(null).cast("double"))
    if (df.columns.contains("risk_score"))
      df = df.withColumn("risk_score", Normalize.tryNum(col("risk_score")))

    df = df.na.drop(Seq("timestamp", "transaction_type", "amount").filter(df.columns.contains))
      .filter(col("amount") >= 0)

    Dedup.keepFirstByIngestOrder(df)
  }

  /** A1/O1/F3 — avg risk per region, desc (pipeline.py:178-186). At scale
    * this is a two-phase hash aggregate (map-side partial) + a final sort.
    */
  def regionRiskAvg(staged: DataFrame): DataFrame =
    staged
      .filter(col("location_region").isNotNull)
      .groupBy("location_region")
      .agg(avg("risk_score").as("avg_risk_score"))
      .orderBy(desc("avg_risk_score"))

  /** W1/F4/F5 — latest 'sale' per receiving_address (pipeline.py:189-203).
    * The reference's `order by timestamp desc` is tie-nondeterministic; we
    * stabilize with the ingest id (first-ingested wins ties), which changes
    * nothing when timestamps are unique.
    */
  def lastSalePerAddress(staged: DataFrame): DataFrame = {
    val orderCols =
      if (staged.columns.contains(Dedup.IngestIdCol))
        Seq(col("timestamp").desc, col(Dedup.IngestIdCol).asc)
      else Seq(col("timestamp").desc)
    val w = Window.partitionBy("receiving_address").orderBy(orderCols: _*)
    staged
      .filter(col("transaction_type") === "sale")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("receiving_address", "amount", "timestamp")
  }

  /** O2 — top-3 by amount (pipeline.py:205-211). `orderBy.limit` plans as
    * TakeOrderedAndProject: per-partition top-k + driver merge, no full sort.
    */
  def top3RecentSales(lastSales: DataFrame): DataFrame =
    lastSales.orderBy(desc("amount")).limit(3)

  /** Full flow with both quality gates. `dataDir` receives the DQ JSONs and
    * parquet "tables" (our analog of the reference's results.duckdb);
    * `curatedDir` the two CSV exports (pipeline.py:214-215). Gate failures
    * throw QualityGateException AFTER publishing inspection artifacts,
    * matching pipeline.py:235-261.
    */
  def run(
      spark: SparkSession,
      inputCsv: String,
      dataDir: String,
      curatedDir: String,
      minConformityPre: Double = 0.98,
      minConformityPost: Double = 0.995): Result = {

    new java.io.File(dataDir).mkdirs()
    new java.io.File(curatedDir).mkdirs()

    val raw = ingestCsv(spark, inputCsv)

    // DQ pre-gate runs on the RAW frame — before name normalization, so a
    // CSV with "Timestamp " produces no timestamp rule (pipeline.py:232).
    val probe = Timestamps.rawProbe(raw, "timestamp")
    val (dqPre, preRow) =
      Quality.profile(raw.drop(Dedup.IngestIdCol), "pre_clean", probe.toSeq.flatMap(_.aggs))
    writeString(s"$dataDir/dq_metrics_pre.json", Quality.toJson(dqPre))
    if (dqPre.conformityRate < minConformityPre) {
      // publish a raw snapshot for inspection, THEN fail (pipeline.py:236-247)
      raw.drop(Dedup.IngestIdCol).write.mode("overwrite").parquet(s"$dataDir/raw_snapshot")
      Quality.gate(dqPre, minConformityPre)
    }

    // Cached with the ingest id still on it (lastSalePerAddress breaks
    // ties on it): the post profile fills the cache, and every output
    // below reads it instead of re-running the scan, parse, clean and
    // keep-first shuffle. At 100 TB this would be a written staging table.
    val staged = clean(raw, probe.flatMap(_.epochUnit(preRow))).cache()
    try {
      val dqPost = Quality.profile(staged.drop(Dedup.IngestIdCol), "post_clean")
      writeString(s"$dataDir/dq_metrics_post.json", Quality.toJson(dqPost))

      val result = publish(staged, dataDir, curatedDir, dqPre, dqPost)
      Quality.gate(dqPost, minConformityPost) // post-gate publishes FIRST, then fails
      result
    } finally staged.unpersist() // also when publish or the gate throws
  }

  /** Writes the four tables and the two CSV exports from the cached
    * `staged`, all six at once. `region` and `top3` each feed a parquet
    * table and a CSV export, so each is cached (both are small: one row per
    * region, three rows) and computed once. The caches are released after
    * every sink has finished; the Result's frames stay valid and recompute
    * if used again.
    */
  private def publish(
      staged: DataFrame,
      dataDir: String,
      curatedDir: String,
      dqPre: Quality.DqMetrics,
      dqPost: Quality.DqMetrics): Result = {
    val stg    = staged.drop(Dedup.IngestIdCol)
    val region = regionRiskAvg(stg)
    val last   = lastSalePerAddress(staged).drop(Dedup.IngestIdCol)
    val top3   = top3RecentSales(last)
    val shared = Seq(region, top3)
    shared.foreach(_.cache())
    // Created here, so its threads inherit this thread's Spark local
    // properties (job group, scheduler pool); drained before returning.
    val pool = Executors.newCachedThreadPool()
    try {
      val sinks: Seq[Callable[Unit]] = Seq(
        () => publishTable(stg, s"$dataDir/stg_transactions"),
        () => publishTable(region, s"$dataDir/region_risk_avg"),
        () => publishTable(last, s"$dataDir/last_sale_per_address"),
        () => publishTable(top3, s"$dataDir/top3_recent_sales_by_receiving"),
        // S4 — single-file headered CSV exports with the reference's exact
        // file names, order baked in (pipeline.py:214-215)
        () => Io.writeSingleCsv(region, s"$curatedDir/region_risk_avg.csv"),
        () => Io.writeSingleCsv(top3, s"$curatedDir/top3_recent_sales_by_receiving.csv"))
      val failures = sinks.map(pool.submit(_)).flatMap(failure)
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
      Result(stg, region, last, top3, dqPre, dqPost)
    } finally {
      pool.shutdown()
      while (!pool.awaitTermination(1, TimeUnit.MINUTES)) ()
      shared.foreach(_.unpersist())
    }
  }

  /** The parquet writes go through a named method, so their jobs' call
    * sites name publish also when a pool thread submits them.
    */
  private def publishTable(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Waits for `f`; the exception its task threw, if it threw. */
  private def failure(f: Future[_]): Option[Throwable] =
    try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }

  private def writeString(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
}
