package graft
object Bench {
  /** THE bench consume path — noop-format sink, NEVER count() (round-13,
    * the x13/x348 finding: a bare count() lets Catalyst eliminate any
    * cardinality-preserving subtree, and 84/369 queries lost operators
    * under it — see the block comment in main). Top-level so
    * BenchConsumeSpec can execute this exact path against the sentinel
    * queries and fail if anyone "simplifies" it back to a prunable
    * consumer; main MUST route every timed execution through here.
    */
  def consume(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Tuning.session()
    spark.sparkContext.setLogLevel("WARN")
    // Per-query JIT/codegen warmup at the tiny sf0.001, IMMEDIATELY before
    // timing that query at the measured SF. A single bulk warmup pass does
    // not work: Spark's generated-code cache is bounded, and 40+ queries'
    // stages evict each other, so by the time a query is measured its
    // codegen is cold again (observed: x20 10s cold vs 2s warm). Steady-
    // state throughput is the comparable number; the warmup SF is 100x
    // smaller so no measured data is cached. Guards: skip warmup when the
    // warm dir is missing (a silently swallowed throw would revert to
    // cold-JIT numbers) or IS the measured dir (would page-cache measured
    // data) — compared by canonical path so symlinks/trailing slashes
    // can't defeat the guard.
    // CONSUME = noop-format write, NOT count() (round-13, the x13/x348
    // finding): a bare count() lets Catalyst ELIMINATE any
    // cardinality-preserving subtree — a left join against a unique-key
    // aggregate drops wholesale with its entire upstream, and a one-off
    // operator-census audit (full vs count() optimized plan; BenchConsumeSpec
    // keeps the census) showed 84 of 369 queries lost operators under
    // count(), a dozen catastrophically (x13's counted plan was literally
    // count(1) over the raw parquet: the whole minhash/LSH pipeline
    // unmeasured since round 2). The noop sink consumes every output row
    // with the full schema — nothing above the scan is prunable — at
    // near-zero sink cost, so walls now price the DECLARED work.
    // Totals step UP versus the count()-era trendline by construction;
    // SURVEY §6.1r records the break and both-metric totals for the
    // transition round.
    def consume(df: org.apache.spark.sql.DataFrame): Unit = Bench.consume(df)
    val warmDir = "/root/testdata/sf0.001"
    def canon(p: String): String =
      try new java.io.File(p).getCanonicalPath catch { case _: Throwable => p }
    val warm = new java.io.File(warmDir).isDirectory && canon(warmDir) != canon(sfDir)
    if (!warm) { try consume(SparkEntry.entry(spark)) catch { case _: Throwable => () } }
    // Timing discipline: this VM CPU-throttles under sustained load, so a
    // single timed run can read 8-30x slow with an unchanged plan. Each
    // query is therefore timed BEST-OF-N — full executions, report the
    // min — which bounds the damage of one throttled window to that window,
    // not the artifact. Sub-2s queries get a THIRD rep (verdict r10 #3):
    // their best-of-2 swung up to 2× across runs with unchanged plans, so
    // a real regression could hide in the throttle band; three samples —
    // all persisted per-rep below — make a throttled window visible as ONE
    // outlier instead of folding it into the best-of. Failures are never
    // folded into timings: a throwing query is recorded in `failures`, its
    // time is -1, and the process exits nonzero so a broken round can't
    // masquerade as a fast one.
    val reps = 2
    val extraRepBelow = 2.0 // seconds: best-of-2 min under this → rep 3
    var failures = List.empty[String] // every rep threw
    var flaky = List.empty[String]    // some rep threw — still not a clean pass
    // SPARK_GRAFT_ONLY=x69_prep_v3,x89_dedup_agreement — isolation runs for
    // the suite-pressure diagnosis (verdict r11 #1): a query timed alone in
    // a fresh JVM vs in-suite separates "my plan regressed" from "318 other
    // queries' codegen/memory pressure at my slot". A filtered run writes
    // bench_partial.json, never bench_last.json — a subset must not
    // masquerade as the round's headline artifact.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = only match {
      case Some(names) =>
        // Fail fast on names that match nothing: a typo'd SPARK_GRAFT_ONLY
        // must not produce a clean-looking n=0 bench_partial.json — that
        // would defeat the isolation-diagnosis purpose of the flag.
        val unknown = names -- SparkEntry.queries.keySet
        if (unknown.nonEmpty) {
          System.err.println(
            s"BENCH: SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(",")}")
          spark.stop()
          sys.exit(2)
        }
        SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val perRep = selected.map { case (name, fn) =>
      if (warm) { try consume(fn(spark, warmDir)) catch { case _: Throwable => () } }
      def rep(): Option[Double] = {
        val t0 = System.nanoTime()
        try { consume(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"BENCH FAILURE $name: ${e.getClass.getName}: ${e.getMessage}")
          None
        }
      }
      var attempted = reps
      var times = (1 to reps).flatMap(_ => rep())
      if (times.nonEmpty && times.min < extraRepBelow) {
        attempted += 1
        times = times ++ rep()
      }
      if (times.isEmpty) failures ::= name
      else if (times.size < attempted) flaky ::= name
      name -> times
    }
    val results = perRep.map { case (name, times) =>
      name -> (if (times.isEmpty) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-rep arrays (rounded to ms — these are trend diagnostics, not the
    // headline): lets the next reader tell "one throttled window" (one
    // outlier rep) from "a real regression" (all reps moved) without rerun
    val repsJson = perRep.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(t => math.round(t * 1000) / 1000.0)
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    def arr(xs: List[String]) = xs.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    // x47's cost is rounds × (join+agg); emitting the converged round count
    // lets a slow bench be attributed to "more rounds" (data moved) vs
    // "same rounds, slower rounds" (VM throttle) without a rerun.
    // x47_rounds stays -1 when x47 never ran this process (e.g. a filtered
    // query set) — emit the field only when it carries a real value.
    val x47Rounds = graft.queries.LlmQueries.x47LastRounds.get()
    // memo hits across x47/x104/x238/x248 (r10): attribution for the bench
    // drop — consumers after the first ride one converged fixpoint per
    // (dir, fixture stamp) instead of re-running the propagation.
    val x47Hits = graft.queries.LlmQueries.x47MemoHits.get()
    val x47Field = (if (x47Rounds >= 0) s""","x47_rounds":$x47Rounds""" else "") +
      (if (x47Hits > 0) s""","x47_memo_hits":$x47Hits""" else "")
    // Shared memo BUILD walls as first-class line items (verdict r14 #6):
    // every FixtureMemo (the only memo: candJaccard and x47's components,
    // each shared by four queries) times its builds, which amortize across
    // consumers but used to land silently on whichever consumer ran first
    // in bench order (x62 +1.0 s in r14). Reported
    // seconds are per-process totals — warmup-SF and measured-SF builds
    // both count, which is what makes consumer walls attributable.
    val memoBuilds = graft.core.MemoMeter.snapshot()
    val memoField = if (memoBuilds.isEmpty) "" else
      memoBuilds.map { case (k, v) =>
        "\"" + k + "\":" + math.round(v * 1000) / 1000.0
      }.mkString(""","memo_builds":{""", ",", "}")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rep_times":$repsJson,"failed":${failures.size},"failures":${arr(failures)},"flaky":${arr(flaky)}$x47Field$memoField,"reps":$reps,"sf":"$sfDir"}"""
    println(fullJson)
    // The driver keeps only the LAST 2000 chars of stdout; with 120+ queries
    // the single JSON line is >4000 chars and the head-positioned totals were
    // truncated away in rounds 7 and 8 (walls had to be re-measured). Two fixes:
    // a short trailing summary line that always fits the tail capture, and
    // the full JSON persisted to a file committed per round.
    val memoTotal = math.round(memoBuilds.map(_._2).sum * 1000) / 1000.0
    val memoSumField = if (memoBuilds.isEmpty) "" else s""","memo_s":$memoTotal"""
    val summary = s"""{"total_s":${math.round(total * 1000) / 1000.0},"failed":${failures.size},"flaky":${flaky.size},"n":${results.size}$x47Field$memoSumField,"reps":$reps,"sf":"$sfDir"}"""
    val outFile = if (only.isDefined) "bench_partial.json" else "bench_last.json"
    try {
      val w = new java.io.PrintWriter(outFile, "UTF-8")
      try { w.println(fullJson); w.println(summary) } finally w.close()
    } catch { case _: Throwable => () } // a read-only CWD must not fail the bench
    println(summary)
    spark.stop()
    // intermittent failures exit nonzero too: a rep that threw and a rep
    // that "passed" is not a clean benchmark, and hiding it behind the
    // surviving time would recreate the swallowed-failure bug this rewrite
    // removed
    if (failures.nonEmpty || flaky.nonEmpty) sys.exit(1)
  }
}
