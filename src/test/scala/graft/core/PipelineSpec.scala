package graft.core

import graft.SparkSpec
import org.apache.spark.ActiveJobs
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheEntries
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path, Paths}

/** End-to-end flow over a synthesized dirty fraud CSV (FIXTURES.md §A):
  * pass branch, pre-gate fail branch (raw_snapshot then throw), post-gate
  * publish-before-throw, dirty-header asymmetry, hostile timestamp columns,
  * and CLI exit codes (reference /root/reference/flows/pipeline.py:222-268).
  */
class PipelineSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    tmpDir(prefix).toString

  private def cachedEntries(): Int = CacheEntries.count(spark)

  private def activeJobs(): Seq[Int] = ActiveJobs.ids(spark.sparkContext)

  private object Aqe extends AdaptiveSparkPlanHelper

  /** The SQL actions `body` runs, in execution order, each with the
    * exception it failed with, if it failed.
    */
  private def executions(body: => Unit): Seq[(QueryExecution, Option[Exception])] = {
    val marker = "pipeline_spec_marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(QueryExecution, Option[Exception])]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add((qe, None))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = seen.add((qe, Some(exception)))
    }
    def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == marker)
    // an earlier test's events still queued on the bus would reach the
    // listener too (the CLI test's raw_snapshot write, which scans the CSV)
    ActiveJobs.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      // events arrive asynchronously but in order: once the marker
      // action's event has arrived, so has every event before it
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      def arrived = seen.stream().anyMatch(e => isMarker(e._1))
      while (!arrived && System.nanoTime() < deadline) Thread.sleep(50)
      assert(arrived, "listener events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[(QueryExecution, Option[Exception])]).toSeq
      .filterNot(e => isMarker(e._1))
  }

  /** Physical plans of the SQL actions `body` runs, in execution order. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] =
    executions(body).collect { case (qe, None) => qe.executedPlan }

  /** Each action's plan plus the cached plans it is the first to read. The
    * first reader of a cache computes it; every action in the flow reads
    * all partitions of what it scans, so it fills the whole cache.
    */
  private def computedPlans(plans: Seq[SparkPlan]): Seq[Seq[SparkPlan]] = {
    val filled = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def expand(p: SparkPlan): Seq[SparkPlan] =
      p +: Aqe.collect(p) { case s: InMemoryTableScanExec => s.relation.cachedPlan }
        .filter(filled.add).flatMap(expand)
    plans.map(expand)
  }

  private def has(plans: Seq[SparkPlan])(pf: PartialFunction[SparkPlan, Boolean]): Boolean =
    plans.exists(p => Aqe.find(p)(pf.applyOrElse(_, (_: SparkPlan) => false)).isDefined)

  private val scansCsv: PartialFunction[SparkPlan, Boolean] = {
    case s: FileSourceScanExec => s.relation.fileFormat.isInstanceOf[CSVFileFormat]
  }

  /** 185 rows: 180 clean (epoch-ms timestamps), 2 duplicates of row 0's
    * composite key, 1 negative amount, 1 null amount, 1 unparseable amount.
    * Pre-gate fails = 3 (negative + null + unparseable — dq_checks coerces
    * amount to numeric BEFORE profiling, pipeline.py:99-101) over 185 ⇒
    * conformity ≈ 0.9838.
    */
  private def writePassCsv(dir: Path): String = {
    val sb = new StringBuilder(
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    val regions = Seq("eu", "us", "0", "None", "")
    (0 until 180).foreach { i =>
      val typ = if (i % 2 == 0) "sale" else " REFUND "
      sb ++= s"${1700000000000L + i * 1000},$typ,${i + 1}.0,addr${i % 20},${regions(i % 5)},0.${i % 9}\n"
    }
    sb ++= s"${1700000000000L},sale,1.0,addr0,eu,0.1\n"   // dup of row 0 key
    sb ++= s"${1700000000000L},sale,1.0,addr0,us,0.2\n"   // dup of row 0 key
    sb ++= s"${1700000500000L},sale,-7.0,addrN,eu,0.3\n"  // negative → pre fail + dropped
    sb ++= s"${1700000600000L},sale,,addrM,eu,0.4\n"      // null amount → pre fail + dropped
    sb ++= s"${1700000700000L},sale,abc,addrX,eu,0.5\n"   // unparseable → coerced null, dropped
    val f = dir.resolve("df_fraud_credit.csv")
    Files.writeString(f, sb.toString)
    f.toString
  }

  test("pass branch: clean, dedup, publish; named single-file CSV exports") {
    val in  = writePassCsv(tmpDir("pipe_in"))
    val data = tmp("pipe_data"); val curated = tmp("pipe_curated")
    val cached = cachedEntries()
    val res = Pipeline.run(spark, in, data, curated)
    assert(cachedEntries() == cached) // every frame the run cached is released

    assert(res.dqPre.totalRows == 185)
    assert(res.dqPre.failedRowsEstimate == 3)
    assert(res.dqPre.nulls("amount") == 2) // empty field + unparseable "abc"
    assert(res.dqPre.conformityRate > 0.98 && res.dqPre.conformityRate < 0.99)
    // 185 - 3 bad - 2 dups = 180 staged rows; post profile is fully conformant
    assert(res.staged.count() == 180)
    assert(res.dqPost.failedRowsEstimate == 0)

    // epoch-ms unit detection produced 2023-era timestamps, not 1970/55978
    val yr = res.staged.select(year(col("timestamp"))).distinct().collect().map(_.getInt(0))
    assert(yr.toSeq == Seq(2023))

    // keep-first kept ROW 0's region ("eu"), not a duplicate's ("us")
    val kept = res.staged
      .filter(col("receiving_address") === "addr0" && col("amount") === 1.0)
      .select("location_region").collect().map(_.getString(0))
    assert(kept.toSeq == Seq("eu"))

    // "0"/"None"/"" regions were null-coded: only eu/us survive the region agg
    assert(res.regionRiskAvg.select("location_region").collect()
      .map(_.getString(0)).toSet == Set("eu", "us"))

    // named single-file exports exist as FILES (reference file names)
    assert(new java.io.File(s"$curated/region_risk_avg.csv").isFile)
    assert(new java.io.File(s"$curated/top3_recent_sales_by_receiving.csv").isFile)
    val top3 = Files.readAllLines(
      java.nio.file.Paths.get(s"$curated/top3_recent_sales_by_receiving.csv"))
    assert(top3.get(0) == "receiving_address,amount,timestamp")
    assert(top3.size == 4) // header + top 3
    assert(Files.exists(java.nio.file.Paths.get(s"$data/dq_metrics_pre.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$data/dq_metrics_post.json")))
  }

  test("pre-gate fail: raw_snapshot published, then QualityGateException") {
    val dir = tmpDir("pipe_prefail")
    val sb  = new StringBuilder(
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    (0 until 40).foreach(i => sb ++= s"${1700000000L + i},sale,${i}.0,a$i,eu,0.1\n")
    (0 until 10).foreach(i => sb ++= s"${1700000100L + i},sale,,b$i,eu,0.1\n") // 10 null amounts
    val in = dir.resolve("bad.csv"); Files.writeString(in, sb.toString)
    val data = tmp("pipe_data2"); val curated = tmp("pipe_curated2")

    var e: Quality.QualityGateException = null
    val actions = executions {
      e = intercept[Quality.QualityGateException] {
        Pipeline.run(spark, in.toString, data, curated)
      }
      assert(activeJobs().isEmpty) // no job outlives run
    }.map(_._1)
    assert(e.getMessage.contains("pre_clean"))
    // the pre profile, clean's timestamp probe inside it, is the only action
    // that scans the CSV before the snapshot
    val snapshot = actions.indexWhere(_.logical.toString.contains("raw_snapshot"))
    assert(snapshot >= 0, "no raw_snapshot write")
    val scans = actions.take(snapshot).filter(qe => has(Seq(qe.executedPlan))(scansCsv))
    assert(scans.size == 1, s"${scans.size} actions scan the CSV before raw_snapshot")
    // inspection artifacts were published BEFORE the throw (pipeline.py:236-247)
    assert(new java.io.File(s"$data/raw_snapshot").isDirectory)
    assert(Files.exists(java.nio.file.Paths.get(s"$data/dq_metrics_pre.json")))
  }

  test("post-gate: publishes results FIRST, then throws") {
    // Cleaning drops every rule-violating row, so post conformity is exactly
    // 1.0 on any input — in the reference too, the post gate only trips via
    // threshold config. Threshold > 1 exercises the publish-then-fail order.
    val in = writePassCsv(tmpDir("pipe_in3"))
    val data = tmp("pipe_data3"); val curated = tmp("pipe_curated3")
    val cached = cachedEntries()
    intercept[Quality.QualityGateException] {
      Pipeline.run(spark, in, data, curated, minConformityPost = 1.01)
    }
    assert(cachedEntries() == cached)
    assert(new java.io.File(s"$data/stg_transactions").isDirectory)
    assert(new java.io.File(s"$curated/region_risk_avg.csv").isFile)
  }

  test("sink failure: every sink runs, the first failure wins, nothing outlives run") {
    // curatedDir is a regular file, so both CSV exports fail when they write
    val in = writePassCsv(tmpDir("pipe_sinkfail"))
    val data = tmp("pipe_data_sf")
    val curated = Files.createFile(tmpDir("pipe_curated_sf").resolve("curated")).toString
    val cached = cachedEntries()
    var thrown: Throwable = null
    val failed = executions {
      thrown = intercept[Exception](Pipeline.run(spark, in, data, curated))
      assert(activeJobs().isEmpty)
    }.collect { case (qe, Some(e)) => (qe.logical.toString, e) }

    // both exports failed with the same message, so each failure is told
    // apart by the write it came from
    def failureOf(export: String): Throwable = {
      val hits = failed.collect { case (plan, e) if plan.contains(export) => e }
      assert(hits.size == 1, s"$export failed in ${hits.size} writes")
      hits.head
    }
    assert(failed.size == 2, s"${failed.size} writes failed")
    // declared order: the region export's failure, the top-3 one's attached
    assert(thrown eq failureOf("region_risk_avg.csv"), thrown)
    // (Spark attaches its own caller-stack record as a suppressed too)
    val top3Failure = failureOf("top3_recent_sales_by_receiving.csv")
    assert(thrown.getSuppressed.exists(_ eq top3Failure), thrown.getSuppressed.toSeq)

    Seq("stg_transactions", "region_risk_avg", "last_sale_per_address",
      "top3_recent_sales_by_receiving").foreach { t =>
      assert(new java.io.File(s"$data/$t/_SUCCESS").isFile, t)
    }
    assert(cachedEntries() == cached)
  }

  test("dirty header names: pre-DQ runs on RAW names (trivially passes), clean normalizes") {
    // Pre-clean DQ runs BEFORE name normalization (pipeline.py:232 vs :118):
    // none of the rule columns match " Timestamp "/"AMOUNT", so the pre gate
    // passes even though half the amounts are null. String timestamps take
    // the try_to_timestamp path (T4).
    val dir = tmpDir("pipe_hdr")
    val sb = new StringBuilder(
      " Timestamp ,Transaction Type,AMOUNT,Receiving Address,Location Region,Risk Score\n")
    (0 until 20).foreach(i =>
      sb ++= f"2024-01-0${i % 9 + 1} ${i % 24}%02d:00:00,sale,$i.5,a$i,eu,0.1\n")
    (0 until 20).foreach(i =>
      sb ++= f"2024-01-0${i % 9 + 1} ${i % 24}%02d:30:00,sale,,b$i,eu,0.1\n")
    val in = dir.resolve("hdr.csv"); Files.writeString(in, sb.toString)
    val data = tmp("pipe_data4"); val curated = tmp("pipe_curated4")

    val res = Pipeline.run(spark, in.toString, data, curated) // must not throw
    assert(res.dqPre.ruleViolations.isEmpty)                  // no raw column matched
    assert(res.dqPre.nulls.isEmpty)
    assert(res.staged.columns.toSet.contains("transaction_type")) // normalized
    assert(res.staged.count() == 20)                          // null amounts dropped post-normalize
    assert(res.dqPost.totalRows == 20)
  }

  test("CLI exit codes: 0 pass, 1 missing input, 2 gate breach") {
    val in = writePassCsv(tmpDir("pipe_cli"))
    assert(PipelineMain.runCli(spark, in, tmp("d0"), tmp("c0"), 0.98, 0.995) == 0)
    assert(PipelineMain.runCli(spark, "/nonexistent/nope.csv",
      tmp("d1"), tmp("c1"), 0.98, 0.995) == 1)
    assert(PipelineMain.runCli(spark, in, tmp("d2"), tmp("c2"), 1.01, 0.995) == 2)
  }

  test("pass branch computes the cleaned frame once; every output reads the cache") {
    val in = writePassCsv(tmpDir("pipe_once"))
    val plans = executedPlans(Pipeline.run(spark, in, tmp("d_once"), tmp("c_once")))
    val computed = computedPlans(plans)

    // the two DQ profiles are the actions whose result has a "total" column
    val profiles = plans.indices.filter(i => plans(i).output.exists(_.name == "total"))
    assert(profiles.size == 2, s"expected pre and post profiles, got $profiles")
    val Seq(pre, post) = profiles
    assert(has(Seq(plans(pre)))(scansCsv))

    // after the post profile nothing scans the CSV, not even through a
    // cache it fills: each output reads the cached frames instead
    val outputs = plans.indices.drop(post + 1)
    assert(outputs.size == 6) // 4 parquet tables + 2 CSV exports
    outputs.foreach { i =>
      assert(!has(computed(i))(scansCsv), s"action $i rescans the CSV:\n${plans(i)}")
      assert(has(Seq(plans(i))) { case _: InMemoryTableScanExec => true },
        s"action $i reads no cached frame:\n${plans(i)}")
    }

    // The CSV is scanned twice: by the pre profile (clean's timestamp probe
    // rides in it) and by the post profile, which runs clean's keep-first
    // window as it fills the cache.
    val scans = plans.indices.filter(i => has(computed(i))(scansCsv))
    assert(scans == Seq(pre, post), s"actions $scans scan the CSV")
    assert(has(computed(post)) { case p => p.output.exists(_.name == "_kf_rn") })

    // the region aggregate and the top-3 each run once, not once per sink
    val regionAgg = plans.indices.filter(i => has(computed(i)) {
      case a: BaseAggregateExec => a.output.exists(_.name == "avg_risk_score")
    })
    val top3 = plans.indices.filter(i => has(computed(i)) {
      case _: TakeOrderedAndProjectExec => true
    })
    assert(regionAgg.size == 1, s"region aggregate ran in actions $regionAgg")
    assert(top3.size == 1, s"top-3 ran in actions $top3")
  }

  test("empty CSV: the publish failure propagates and releases the cached frame") {
    // A 0-byte file has no columns, so it passes both gates and fails in the
    // region aggregate. runCli does not map that to an exit code: the
    // exception escapes PipelineMain.main, which exits 1.
    val in = tmpDir("pipe_empty").resolve("empty.csv")
    Files.write(in, Array.emptyByteArray)
    val cached = cachedEntries()
    val e = intercept[AnalysisException] {
      PipelineMain.runCli(spark, in.toString, tmp("d_empty"), tmp("c_empty"), 0.98, 0.995)
    }
    assert(e.getMessage.contains("location_region"))
    assert(cachedEntries() <= cached)
  }

  test("header-only CSV: exit 0, zero-row DQ JSONs, header-only CSV exports") {
    val in = tmpDir("pipe_hdronly").resolve("hdr_only.csv")
    Files.writeString(in,
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    val data = tmp("d_hdronly"); val curated = tmp("c_hdronly")
    val cached = cachedEntries()
    assert(PipelineMain.runCli(spark, in.toString, data, curated, 0.98, 0.995) == 0)
    assert(cachedEntries() == cached)

    Seq("dq_metrics_pre.json", "dq_metrics_post.json").foreach { f =>
      assert(Files.readString(Paths.get(s"$data/$f")).contains("\"total_rows\": 0,"), f)
    }
    def lines(f: String) = Files.readAllLines(Paths.get(s"$curated/$f"))
    assert(lines("region_risk_avg.csv") ==
      java.util.List.of("location_region,avg_risk_score"))
    assert(lines("top3_recent_sales_by_receiving.csv") ==
      java.util.List.of("receiving_address,amount,timestamp"))
  }

  test("building the cleaned frame starts no Spark job") {
    val raw = Pipeline.ingestCsv(spark, writePassCsv(tmpDir("pipe_lazy")))
    assert(jobsDuring(Pipeline.clean(raw, Some("ms"))) == 0)
    assert(jobsDuring(Pipeline.clean(raw, None)) == 0)
  }

  /** A CSV of `header` and `rows`, encoded in `charset`. */
  private def csvOf(prefix: String, header: String, rows: Seq[String],
      charset: java.nio.charset.Charset = java.nio.charset.StandardCharsets.UTF_8): String = {
    val f = tmpDir(prefix).resolve("hostile.csv")
    Files.write(f, (header +: rows).mkString("", "\n", "\n").getBytes(charset))
    f.toString
  }

  /** A CSV of `timestamps` under `tsHeader`, each row otherwise valid. */
  private def hostileCsv(prefix: String, tsHeader: String, timestamps: Seq[String]): String =
    csvOf(prefix, s"$tsHeader,transaction_type,amount,receiving_address,location_region,risk_score",
      timestamps.zipWithIndex.map { case (ts, i) => s"$ts,sale,$i.5,a$i,eu,0.1" })

  private val fraudHeader = "timestamp,transaction_type,amount,receiving_address,location_region,risk_score"

  private def cli(in: String, minPre: Double = 0.98): Int =
    PipelineMain.runCli(spark, in, tmp("d_hostile"), tmp("c_hostile"), minPre, 0.995)

  test("hostile: two headers that normalize to timestamp") {
    // " Timestamp " and "timestamp" both become `timestamp` (SURVEY P1,
    // pipeline.py:118). Neither is probed, so the pre profile runs; with a
    // passing gate clean's ambiguous reference escapes runCli (no exit code
    // maps it), with a breaching gate the gate wins: exit 2 (SURVEY C2).
    val in = hostileCsv("pipe_dup_ts", " Timestamp ,timestamp",
      (0 until 20).map(i => s"${1700000000L + i},${1700000000L + i}"))
    val e = intercept[AnalysisException](cli(in))
    assert(e.getCondition == "AMBIGUOUS_REFERENCE", e.getMessage)
    assert(cli(in, minPre = 1.01) == 2)
  }

  test("hostile: an all-null timestamp column breaches the pre-gate, exit 2") {
    // every timestamp_not_null check fails: conformity 0 < 0.98 → exit 2
    // (SURVEY C2, README.md:51)
    val in = hostileCsv("pipe_null_ts", "timestamp", Seq.fill(20)(""))
    assert(cli(in) == 2)
  }

  test("hostile: digit strings mixed with datetimes take the string path, exit 0") {
    // not every value matches ^\d+(\.\d+)?$ (SURVEY T2), so the column
    // parses as datetime strings and the digit string coerces to null
    // (SURVEY T4); clean drops those rows and both gates pass: exit 0
    val timestamps = (0 until 10).map(i => s"2024-01-02 00:00:0$i") :+ "1700000000"
    val data = tmp("d_mixed_ts")
    assert(PipelineMain.runCli(spark, hostileCsv("pipe_mixed_ts", "timestamp", timestamps),
      data, tmp("c_mixed_ts"), 0.98, 0.995) == 0)
    assert(spark.read.parquet(s"$data/stg_transactions").count() == 10)
  }

  test("hostile: a date-only timestamp column takes the string path, exit 0") {
    // CSV inference reads `2024-01-01` values as DATE, which is not numeric and
    // does not look numeric (SURVEY T2); the dates parse as datetime
    // strings at midnight (SURVEY T4) and both gates pass: exit 0
    val data = tmp("d_date_ts")
    val in = hostileCsv("pipe_date_ts", "timestamp", (1 to 9).map(d => s"2024-01-0$d"))
    assert(spark.read.option("header", "true").option("inferSchema", "true")
      .csv(in).schema("timestamp").dataType == org.apache.spark.sql.types.DateType)
    assert(PipelineMain.runCli(spark, in, data, tmp("c_date_ts"), 0.98, 0.995) == 0)
    assert(spark.read.parquet(s"$data/stg_transactions").count() == 9)
  }

  test("hostile: mistyped amounts coerce to null and drop, exit 0") {
    // "1,5" and "12abc" are not numbers: to_numeric(errors="coerce") makes
    // them null (SURVEY P3), so they fail amount_not_null. 2 fails in 200
    // rows is conformity 0.99 >= 0.98, clean drops both rows and both gates
    // pass: exit 0 (SURVEY C2)
    val rows = (0 until 200).map { i =>
      val amount = i match { case 7 => "\"1,5\"" case 8 => "12abc" case _ => s"$i.5" }
      s"${1700000000L + i},sale,$amount,a$i,eu,0.1"
    }
    val data = tmp("d_bad_amount")
    assert(PipelineMain.runCli(spark, csvOf("pipe_bad_amount", fraudHeader, rows),
      data, tmp("c_bad_amount"), 0.98, 0.995) == 0)
    assert(spark.read.parquet(s"$data/stg_transactions").count() == 198)
  }

  test("hostile: a text risk_score column coerces to null, exit 0") {
    // every risk_score coerces to null (SURVEY P3); no DQ rule reads it, so
    // both gates pass: exit 0 (SURVEY C2), and the region mean over all-null
    // scores is null (SURVEY A1)
    val rows = (0 until 20).map(i => s"${1700000000L + i},sale,$i.5,a$i,eu,high")
    val (data, curated) = (tmp("d_text_risk"), tmp("c_text_risk"))
    assert(PipelineMain.runCli(spark, csvOf("pipe_text_risk", fraudHeader, rows),
      data, curated, 0.98, 0.995) == 0)
    val staged = spark.read.parquet(s"$data/stg_transactions")
    assert(staged.count() == 20 && staged.filter(col("risk_score").isNotNull).count() == 0)
    val avgs = spark.read.parquet(s"$data/region_risk_avg").collect()
    assert(avgs.length == 1 && avgs.head.isNullAt(avgs.head.fieldIndex("avg_risk_score")))
  }

  test("hostile: two amount headers that normalize to one name") {
    // "Amount" and " amount" both become `amount` (SURVEY P1,
    // pipeline.py:118). The pre profile runs on the raw names and passes;
    // clean's ambiguous reference then escapes runCli (no exit code maps
    // it), and with a breaching gate the gate wins: exit 2 (SURVEY C2)
    val rows = (0 until 20).map(i => s"${1700000000L + i},sale,$i.5,$i.5,a$i,eu,0.1")
    val in = csvOf("pipe_dup_amount",
      "timestamp,transaction_type,Amount, amount,receiving_address,location_region,risk_score", rows)
    val e = intercept[AnalysisException](cli(in))
    assert(e.getCondition == "AMBIGUOUS_REFERENCE", e.getMessage)
    assert(cli(in, minPre = 1.01) == 2)
  }

  /** Runs `header`'s 20 rows through the CLI and checks the renamed-column
    * outcome: exit 0, no staged row, header-only CSV exports.
    */
  private def assertRenamedColumnDropsEveryRow(prefix: String, header: String): Unit = {
    val rows = (0 until 20).map(i => s"${1700000000L + i},sale,$i.5,a$i,eu,0.1")
    val (data, curated) = (tmp(s"d_$prefix"), tmp(s"c_$prefix"))
    assert(PipelineMain.runCli(spark, csvOf(prefix, header, rows), data, curated,
      0.98, 0.995) == 0)
    assert(spark.read.parquet(s"$data/stg_transactions").count() == 0)
    def lines(f: String) = Files.readAllLines(Paths.get(s"$curated/$f"))
    assert(lines("region_risk_avg.csv") ==
      java.util.List.of("location_region,avg_risk_score"))
    assert(lines("top3_recent_sales_by_receiving.csv") ==
      java.util.List.of("receiving_address,amount,timestamp"))
  }

  test("hostile: a renamed amount header synthesizes a null amount, exit 0 with no rows") {
    // `value` is not `amount`: the pre profile has no amount rule and
    // passes (SURVEY C2); clean synthesizes `amount` as all-null (SURVEY
    // P4, pipeline.py:145-146) and drops every row, so the post profile
    // sees 0 rows and passes too
    assertRenamedColumnDropsEveryRow("pipe_renamed_amount",
      "timestamp,transaction_type,value,receiving_address,location_region,risk_score")
  }

  test("hostile: a renamed timestamp header synthesizes a null timestamp, exit 0 with no rows") {
    // `event_time` is not `timestamp`: nothing is probed and the pre
    // profile has no timestamp rule, so it passes (SURVEY C2); clean
    // synthesizes `timestamp` as all-null (SURVEY P4, pipeline.py:140-141)
    // and drops every row, so the post profile sees 0 rows and passes too
    assertRenamedColumnDropsEveryRow("pipe_renamed_ts",
      "event_time,transaction_type,amount,receiving_address,location_region,risk_score")
  }

  test("hostile: a Latin-1 location_region decodes with replacement characters, exit 0") {
    // Ingest reads the CSV as UTF-8 (SURVEY §1 Ingest, pipeline.py:41-47).
    // Spark's reader decodes the malformed Latin-1 byte as U+FFFD, no
    // rule reads the region, and both gates pass: exit 0 (SURVEY C2).
    // pandas' default strict decoding would raise here instead; this pins
    // the engine's own outcome.
    val rows = (0 until 20).map { i =>
      s"${1700000000L + i},sale,$i.5,a$i,${if (i % 2 == 0) "S\u00e3o Paulo" else "eu"},0.1"
    }
    val data = tmp("d_latin1")
    assert(PipelineMain.runCli(spark,
      csvOf("pipe_latin1", fraudHeader, rows, java.nio.charset.StandardCharsets.ISO_8859_1),
      data, tmp("c_latin1"), 0.98, 0.995) == 0)
    val regions = spark.read.parquet(s"$data/stg_transactions")
      .select("location_region").distinct().collect().map(_.getString(0)).toSet
    assert(regions == Set("S\ufffdo Paulo", "eu"), regions)
  }
}
