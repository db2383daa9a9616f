package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import scala.sys.process.Process

/** DIFFERENTIAL e2e against the ACTUAL reference pipeline (verdict r12 #1):
  * synthesizes one dirty FIXTURES.md §A CSV, runs
  * `/root/reference/flows/pipeline.py` itself on it (via
  * `tools/ref_diff.py`, which injects a no-op prefect stub and executes the
  * flow body unmodified with pandas+duckdb), runs our `PipelineMain.runCli`
  * on the SAME file, and diffs the observable outputs field-by-field:
  * `curated/region_risk_avg.csv`, `curated/top3_recent_sales_by_receiving
  * .csv`, and both DQ JSONs — across the pass branch, both gate-failure
  * branches (exit 2), and missing input (exit 1).
  *
  * Tolerated representation differences (documented, value-level only):
  * timestamps are compared as instants (DuckDB writes `2023-11-14 22:16:18
  * +00`, Spark `2023-11-14T22:16:18.000Z`); doubles are parsed and compared
  * to 1e-9 (double summation order differs across engines, so the fixture
  * keeps region averages ≥0.1 apart to make the desc ordering unambiguous).
  * Everything else — headers, row order, counts, every DQ field — must be
  * equal.
  */
class DifferentialRefSpec extends SparkSpec {

  private val repoRoot = new java.io.File(".").getCanonicalPath
  private lazy val pythonOk =
    Process(Seq("python3", "-c", "import pandas, duckdb")).! == 0

  private def tmp(prefix: String): String =
    tmpDir(prefix).toString

  /** Run the reference flow on `csv` with CWD `workdir`; returns exit code
    * (0 pass / 1 missing input / 2 gate).
    */
  private def runReference(csv: String, workdir: String,
      env: (String, String)*): Int =
    Process(
      Seq("python3", s"$repoRoot/tools/ref_diff.py", csv, workdir),
      new java.io.File(repoRoot), env: _*).!

  /** 205 rows: 200 base (epoch-ms, unique composite keys, region-dependent
    * risk scores so the three region averages sit ~0.3 apart) + 1 duplicate
    * of row 0's composite key carrying a DIFFERENT region (keep-first parity
    * shows up in the region average) + negative amount + null amount +
    * unparseable amount + null timestamp. Pre fails = 4/205 → conformity
    * ≈ 0.98049, just above the 0.98 gate.
    */
  private def writeSharedCsv(dir: Path): String = {
    val sb = new StringBuilder(
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    val regions = Seq("eu", "us", "ap", "0", "None", "")
    (0 until 200).foreach { i =>
      val typ = if (i % 2 == 0) "sale" else " REFUND "
      val region = regions(i % 6)
      val base = region match {
        case "eu" => 0.80; case "us" => 0.50; case "ap" => 0.20
        case _ => 0.10
      }
      val risk = base + (i % 7) * 0.01
      sb ++= f"${1700000000000L + i * 1000},$typ,${i + 1}.0,addr${i % 20},$region,$risk%.2f\n"
    }
    sb ++= s"${1700000000000L},sale,1.0,addr0,zz,0.99\n"  // dup of row 0's key
    sb ++= s"${1700000500000L},sale,-7.0,addrN,eu,0.30\n" // negative
    sb ++= s"${1700000600000L},sale,,addrM,eu,0.40\n"     // null amount
    sb ++= s"${1700000700000L},sale,abc,addrX,eu,0.50\n"  // unparseable amount
    sb ++= s",sale,5.0,addrY,eu,0.60\n"                   // null timestamp
    val f = dir.resolve("df_fraud_credit.csv")
    Files.writeString(f, sb.toString)
    f.toString
  }

  // --- comparison helpers -------------------------------------------------

  private def parseTs(s: String): java.time.Instant = {
    val t = s.trim.replace(' ', 'T')
    val z =
      if (t.endsWith("Z")) t
      else if (t.matches(".*[+-]\\d{2}$")) t + ":00"
      else if (t.matches(".*[+-]\\d{2}:\\d{2}$")) t
      else t + "Z"
    java.time.OffsetDateTime.parse(z).toInstant
  }

  private def readCsvRows(path: String): (Seq[String], Seq[Array[String]]) = {
    val lines = Files.readAllLines(Paths.get(path))
    import scala.jdk.CollectionConverters._
    val all = lines.asScala.toSeq.filter(_.nonEmpty)
    (all.head.split(",", -1).toSeq, all.tail.map(_.split(",", -1)))
  }

  private def diffRegionCsv(refPath: String, ourPath: String): Unit = {
    val (refHdr, refRows) = readCsvRows(refPath)
    val (ourHdr, ourRows) = readCsvRows(ourPath)
    assert(refHdr == Seq("location_region", "avg_risk_score"))
    assert(ourHdr == refHdr)
    assert(ourRows.map(_(0)) == refRows.map(_(0)),
      s"region order differs: ref=${refRows.map(_(0))} ours=${ourRows.map(_(0))}")
    refRows.zip(ourRows).foreach { case (r, o) =>
      assert(math.abs(r(1).toDouble - o(1).toDouble) < 1e-9,
        s"avg_risk_score for ${r(0)}: ref=${r(1)} ours=${o(1)}")
    }
  }

  private def diffTop3Csv(refPath: String, ourPath: String): Unit = {
    val (refHdr, refRows) = readCsvRows(refPath)
    val (ourHdr, ourRows) = readCsvRows(ourPath)
    assert(refHdr == Seq("receiving_address", "amount", "timestamp"))
    assert(ourHdr == refHdr)
    assert(refRows.size == ourRows.size)
    refRows.zip(ourRows).foreach { case (r, o) =>
      assert(r(0) == o(0), s"address: ref=${r(0)} ours=${o(0)}")
      assert(math.abs(r(1).toDouble - o(1).toDouble) < 1e-12)
      assert(parseTs(r(2)) == parseTs(o(2)),
        s"timestamp: ref=${r(2)} ours=${o(2)}")
    }
  }

  private def diffDqJson(refPath: String, ourPath: String): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val ref = om.readTree(new java.io.File(refPath))
    val our = om.readTree(new java.io.File(ourPath))
    assert(our.get("phase").asText == ref.get("phase").asText)
    assert(our.get("total_rows").asLong == ref.get("total_rows").asLong)
    val refNulls = ref.get("nulls"); val ourNulls = our.get("nulls")
    import scala.jdk.CollectionConverters._
    val refCols = refNulls.fieldNames.asScala.toSeq
    assert(ourNulls.fieldNames.asScala.toSeq == refCols)
    refCols.foreach { c =>
      assert(ourNulls.get(c).asLong == refNulls.get(c).asLong,
        s"nulls[$c]: ref=${refNulls.get(c)} ours=${ourNulls.get(c)}")
    }
    val ruleNames = Seq("timestamp_not_null", "transaction_type_not_null",
      "amount_not_null", "amount_non_negative")
    ruleNames.foreach { rn =>
      val r = ref.get("rules").get(rn); val o = our.get("rules").get(rn)
      if (r == null || r.isNull) assert(o == null || o.isNull, s"rule $rn")
      else assert(o.get("violations").asLong == r.get("violations").asLong,
        s"rules[$rn]: ref=$r ours=$o")
    }
    assert(our.get("failed_rows_estimate").asLong ==
      ref.get("failed_rows_estimate").asLong)
    assert(math.abs(our.get("conformity_rate").asDouble -
      ref.get("conformity_rate").asDouble) < 1e-9)
  }

  // --- the four branches --------------------------------------------------

  test("pass branch: curated CSVs and both DQ JSONs match the reference") {
    assume(pythonOk, "driver-side python3/pandas/duckdb not available")
    val csv = writeSharedCsv(tmpDir("diff_in"))
    val refDir = tmp("diff_ref")
    val ourData = tmp("diff_data"); val ourCur = tmp("diff_cur")

    assert(runReference(csv, refDir) == 0)
    assert(PipelineMain.runCli(spark, csv, ourData, ourCur, 0.98, 0.995) == 0)

    diffDqJson(s"$refDir/data/dq_metrics_pre.json", s"$ourData/dq_metrics_pre.json")
    diffDqJson(s"$refDir/data/dq_metrics_post.json", s"$ourData/dq_metrics_post.json")
    diffRegionCsv(s"$refDir/curated/region_risk_avg.csv", s"$ourCur/region_risk_avg.csv")
    diffTop3Csv(s"$refDir/curated/top3_recent_sales_by_receiving.csv",
      s"$ourCur/top3_recent_sales_by_receiving.csv")
  }

  test("pre-gate breach: both engines exit 2 with identical pre DQ") {
    assume(pythonOk, "driver-side python3/pandas/duckdb not available")
    val dir = tmpDir("diff_prefail")
    val sb = new StringBuilder(
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    (0 until 45).foreach(i => sb ++= s"${1700000000L + i},sale,${i}.0,a$i,eu,0.1\n")
    (0 until 5).foreach(i => sb ++= s"${1700000100L + i},sale,,b$i,eu,0.1\n")
    val csv = dir.resolve("bad.csv"); Files.writeString(csv, sb.toString)
    val refDir = tmp("diff_ref2")
    val ourData = tmp("diff_data2"); val ourCur = tmp("diff_cur2")

    assert(runReference(csv.toString, refDir) == 2)
    assert(PipelineMain.runCli(spark, csv.toString, ourData, ourCur, 0.98, 0.995) == 2)
    diffDqJson(s"$refDir/data/dq_metrics_pre.json", s"$ourData/dq_metrics_pre.json")
    // neither engine reached the post profile or the curated exports
    assert(!Files.exists(Paths.get(s"$refDir/data/dq_metrics_post.json")))
    assert(!Files.exists(Paths.get(s"$ourData/dq_metrics_post.json")))
  }

  test("post-gate breach (threshold 1.01): both publish FIRST, then exit 2") {
    assume(pythonOk, "driver-side python3/pandas/duckdb not available")
    val csv = writeSharedCsv(tmpDir("diff_in3"))
    val refDir = tmp("diff_ref3")
    val ourData = tmp("diff_data3"); val ourCur = tmp("diff_cur3")

    assert(runReference(csv, refDir, "MIN_CONFORMITY_POST" -> "1.01") == 2)
    assert(PipelineMain.runCli(spark, csv, ourData, ourCur, 0.98, 1.01) == 2)
    // publish-before-throw on both sides: curated outputs exist AND match
    diffDqJson(s"$refDir/data/dq_metrics_post.json", s"$ourData/dq_metrics_post.json")
    diffRegionCsv(s"$refDir/curated/region_risk_avg.csv", s"$ourCur/region_risk_avg.csv")
    diffTop3Csv(s"$refDir/curated/top3_recent_sales_by_receiving.csv",
      s"$ourCur/top3_recent_sales_by_receiving.csv")
  }

  // Deterministic-seed fuzz over the dirt classes the reference defines
  // behavior for: pandas-NA tokens, case/padding, unparseable and
  // negative amounts, numeric-string amounts ("1e2", " 5.0 ", "5,"),
  // null-literal regions incl. "0", exact-duplicate rows, a null
  // timestamp. Planted fails: 2 bad amounts + 1 negative + 1 null ts +
  // 1 "None" type (NA at ingest) = 5/400 → conformity 0.9875 ≥ 0.98 —
  // fail counts are seed-INVARIANT (randomness only moves values, case,
  // regions and addresses), so every seed exercises the pass branch.
  // N seeds, not one (verdict r13 #4): the single-seed first run caught
  // two real parity divergences, so more draws over the same dirt
  // classes are cheap insurance against value-dependent edges (ties,
  // rounding, NA-token × case interactions).
  private val fuzzSeeds = Seq(12345L, 777L, 20260816L, 424242L, 987654321L)

  for (seed <- fuzzSeeds)
  test(s"fuzz[seed=$seed]: 400-row dirty batch matches the reference end-to-end") {
    assume(pythonOk, "driver-side python3/pandas/duckdb not available")
    val rnd = new scala.util.Random(seed)
    val types = Seq("sale", "SALE", " Sale ", "refund", " REFUND ")
    val regions = Seq("eu", "us", "ap", "0", "00", "None", "", " eu ")
    val sb = new StringBuilder(
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    val rows = (0 until 394).map { i =>
      val ts = 1700000000000L + i * 1000L
      val typ = types(rnd.nextInt(types.size))
      val amount = i match {
        case 7  => "1e2"
        case 11 => " 5.0 "
        case _  => s"${i + 1}.${rnd.nextInt(100)}"
      }
      val addr = s"addr${rnd.nextInt(40)}"
      val region = regions(rnd.nextInt(regions.size))
      val risk = if (i == 13) "x" else f"0.${rnd.nextInt(100)}%02d"
      s"$ts,$typ,$amount,$addr,$region,$risk"
    }
    rows.foreach(r => sb ++= r + "\n")
    sb ++= rows(0) + "\n"                                  // exact duplicate
    sb ++= s"${1700000900000L},sale,-4.0,addrN,eu,0.30\n"  // negative
    sb ++= s"${1700000901000L},sale,,addrM,eu,0.40\n"      // null amount
    sb ++= s"${1700000902000L},sale,abc,addrX,eu,0.50\n"   // unparseable
    sb ++= s",sale,6.0,addrY,eu,0.60\n"                    // null timestamp
    sb ++= s"${1700000903000L},None,7.0,addrZ,eu,0.70\n"   // NA-token type
    val dir = tmpDir("diff_fuzz")
    val csv = dir.resolve("fuzz.csv")
    Files.writeString(csv, sb.toString)

    val refDir = tmp("diff_reff")
    val ourData = tmp("diff_dataf"); val ourCur = tmp("diff_curf")
    assert(runReference(csv.toString, refDir) == 0)
    assert(PipelineMain.runCli(spark, csv.toString, ourData, ourCur, 0.98, 0.995) == 0)

    diffDqJson(s"$refDir/data/dq_metrics_pre.json", s"$ourData/dq_metrics_pre.json")
    diffDqJson(s"$refDir/data/dq_metrics_post.json", s"$ourData/dq_metrics_post.json")
    // region averages: random risk scores can land arbitrarily close, so
    // compare as region→avg maps (1e-9) and check each file's own desc
    // order instead of demanding identical tie ordering
    def regionMap(path: String): Map[String, Double] = {
      val (_, rows) = readCsvRows(path)
      rows.map(r => r(0) -> r(1).toDouble).toMap
    }
    val refMap = regionMap(s"$refDir/curated/region_risk_avg.csv")
    val ourMap = regionMap(s"$ourCur/region_risk_avg.csv")
    assert(ourMap.keySet == refMap.keySet)
    refMap.foreach { case (k, v) =>
      assert(math.abs(ourMap(k) - v) < 1e-9, s"avg for $k: ref=$v ours=${ourMap(k)}")
    }
    Seq(s"$refDir/curated/region_risk_avg.csv",
        s"$ourCur/region_risk_avg.csv").foreach { f =>
      val avgs = readCsvRows(f)._2.map(_(1).toDouble)
      assert(avgs.zip(avgs.tail).forall { case (a, b) => a >= b - 1e-12 },
        s"$f is not avg-desc ordered")
    }
    diffTop3Csv(s"$refDir/curated/top3_recent_sales_by_receiving.csv",
      s"$ourCur/top3_recent_sales_by_receiving.csv")
  }

  // Gate-BREACH fuzz (verdict r14 #5): the pre/post gate branches were
  // covered only by the two fixed scenarios above — no randomized input
  // had ever tripped them. Same dirt-class generator discipline as the
  // pass fuzz: randomness moves values/case/regions/addresses, planted
  // fail counts are seed-INVARIANT, so every seed deterministically
  // exercises its branch.
  //
  // Structural invariant, pinned in the post-breach test: the reference's
  // OWN cleaning (`flows/pipeline.py:154-156` dropna on
  // timestamp/type/amount + `amount >= 0`) removes every row that could
  // violate any of the four DQ rules, so post-clean conformity is
  // ALWAYS exactly 1.0 — a post breach below the default 0.995 is
  // UNREACHABLE by data, and the only reachable post-breach regime is a
  // threshold > 1 (the env knob the reference exposes). The fuzz
  // therefore covers the post branch with randomized inputs under
  // MIN_CONFORMITY_POST=1.01 and asserts the 1.0 invariant on both
  // engines' published post JSONs.
  private val breachSeeds = Seq(31337L, 271828L, 16180339L)

  /** 391 random CLEAN rows (no NA tokens in type, parseable positive
    * amounts, present numeric timestamps — the random part contributes
    * ZERO rule fails at any seed) + `nullAmounts` planted fail rows.
    */
  private def writeBreachCsv(rnd: scala.util.Random, dir: Path,
      nullAmounts: Int): String = {
    val types = Seq("sale", "SALE", " Sale ", "refund", " REFUND ")
    val regions = Seq("eu", "us", "ap", "0", "00", "None", "", " eu ")
    val sb = new StringBuilder(
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    (0 until 400 - nullAmounts - 3).foreach { i =>
      val ts = 1700000000000L + i * 1000L
      sb ++= s"$ts,${types(rnd.nextInt(types.size))},${i + 1}.${rnd.nextInt(100)}," +
        s"addr${rnd.nextInt(40)},${regions(rnd.nextInt(regions.size))}," +
        f"0.${10 + rnd.nextInt(80)}%2d\n"
    }
    (0 until nullAmounts).foreach(i =>
      sb ++= s"${1700000900000L + i},sale,,amiss$i,eu,0.30\n")   // null amounts
    sb ++= s"${1700000910000L},sale,abc,aparse,eu,0.40\n"        // unparseable
    sb ++= s"${1700000920000L},sale,-2.0,aneg,eu,0.50\n"         // negative
    sb ++= s",sale,3.0,ats,eu,0.60\n"                            // null ts
    val f = dir.resolve("breach.csv")
    Files.writeString(f, sb.toString)
    f.toString
  }

  for (seed <- breachSeeds)
  test(s"fuzz-pre-breach[seed=$seed]: planted 9/400 fails trip the pre gate on both engines") {
    assume(pythonOk, "driver-side python3/pandas/duckdb not available")
    // 6 null + 1 unparseable amount, 1 negative, 1 null ts = 9/400 →
    // conformity 0.9775 < 0.98 at every seed
    val csv = writeBreachCsv(new scala.util.Random(seed),
      tmpDir("diff_prebr"), nullAmounts = 6)
    val refDir = tmp("diff_refpb")
    val ourData = tmp("diff_datapb"); val ourCur = tmp("diff_curpb")
    assert(runReference(csv, refDir) == 2)
    assert(PipelineMain.runCli(spark, csv, ourData, ourCur, 0.98, 0.995) == 2)
    diffDqJson(s"$refDir/data/dq_metrics_pre.json", s"$ourData/dq_metrics_pre.json")
    // the raw snapshot published, then the flow died BEFORE post/publish
    assert(!Files.exists(Paths.get(s"$refDir/data/dq_metrics_post.json")))
    assert(!Files.exists(Paths.get(s"$ourData/dq_metrics_post.json")))
    assert(!Files.exists(Paths.get(s"$ourCur/region_risk_avg.csv")))
  }

  for (seed <- breachSeeds)
  test(s"fuzz-post-breach[seed=$seed]: randomized input, threshold 1.01 — publish FIRST, then exit 2") {
    assume(pythonOk, "driver-side python3/pandas/duckdb not available")
    // 3 planted fails (1 bad + 1 negative amount + 1 null ts) = 3/400 →
    // pre conformity 0.9925 ≥ 0.98 passes; post trips only on threshold
    val csv = writeBreachCsv(new scala.util.Random(seed),
      tmpDir("diff_postbr"), nullAmounts = 0)
    val refDir = tmp("diff_refob")
    val ourData = tmp("diff_dataob"); val ourCur = tmp("diff_curob")
    assert(runReference(csv, refDir, "MIN_CONFORMITY_POST" -> "1.01") == 2)
    assert(PipelineMain.runCli(spark, csv, ourData, ourCur, 0.98, 1.01) == 2)
    diffDqJson(s"$refDir/data/dq_metrics_post.json", s"$ourData/dq_metrics_post.json")
    // pin the structural invariant: the reference's own cleaning leaves
    // nothing for the four rules to flag — post conformity is exactly 1.0
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    for (p <- Seq(s"$refDir/data/dq_metrics_post.json",
        s"$ourData/dq_metrics_post.json"))
      assert(om.readTree(new java.io.File(p)).get("conformity_rate")
        .asDouble == 1.0, s"$p: post-clean conformity must be exactly 1.0")
    // publish-before-throw on both sides: curated outputs exist AND match
    // (region averages compared as maps — random risks can tie)
    def regionMap(path: String): Map[String, Double] = {
      val (_, rows) = readCsvRows(path)
      rows.map(r => r(0) -> r(1).toDouble).toMap
    }
    val refMap = regionMap(s"$refDir/curated/region_risk_avg.csv")
    val ourMap = regionMap(s"$ourCur/region_risk_avg.csv")
    assert(ourMap.keySet == refMap.keySet)
    refMap.foreach { case (k, v) =>
      assert(math.abs(ourMap(k) - v) < 1e-9, s"avg for $k: ref=$v ours=${ourMap(k)}")
    }
    diffTop3Csv(s"$refDir/curated/top3_recent_sales_by_receiving.csv",
      s"$ourCur/top3_recent_sales_by_receiving.csv")
  }

  test("missing input: both engines exit 1") {
    assume(pythonOk, "driver-side python3/pandas/duckdb not available")
    val refDir = tmp("diff_ref4")
    assert(runReference("/nonexistent/nope.csv", refDir) == 1)
    assert(PipelineMain.runCli(spark, "/nonexistent/nope.csv",
      tmp("diff_data4"), tmp("diff_cur4"), 0.98, 0.995) == 1)
  }
}
