package graft.queries

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 additions (registered in SparkEntry, oracled in Oracles):
  * lexical-richness economics (x306/x307/x318/x320), filter-rule
  * inference (x308 McNemar, x314 Cochran's Q, x309 Cramér's V, x310
  * mutual information), vocabulary concentration (x311 Lorenz deciles —
  * RangeRank consumer #8), time-series diagnostics over the event stream
  * (x312 runs test, x313 Ljung–Box, x323 Mann–Kendall/Sen, x324
  * Durbin–Watson), distribution distances (x315 Bhattacharyya/Hellinger/
  * TVD, x316 Cliff's delta), weighted sampling (x317 priority sampling,
  * x325 Neyman allocation), dedup evaluation (x319 blocking pair
  * completeness, x322 b-bit minhash calibration), quality filtering
  * (x321 Gopher rule panel) and clustering diagnostics (x326 simplified
  * silhouette). Same conventions as Round11 (fanOut, stableRound6 at
  * every float edge, DECIMAL exact sums, md5 portability, map-combining
  * aggregates, mirrored NULL pins).
  */
object Round12Queries {
  import LlmQueries.fanOut

  /** Per-(source, token) exact counts — the shared head of the richness
    * family (x306/x307/x318/x320 n=1). One corpus scan, one map-combining
    * aggregate to the per-source vocabulary. */
  private def sourceTokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** x306 — LEXICAL RICHNESS panel per source (round-12): types V, tokens
    * N, hapax V₁ and dis legomena V₂ counts, hapax share V₁/V, and
    * Yule's characteristic K = 10⁴·(Σc² − N)/N² — the classic
    * repetitiveness constant (Yule 1944): K is length-invariant where raw
    * TTR (x55) is not, so it is THE cross-source comparable for "how
    * repetitive is this crawl really", and a K spike flags boilerplate
    * the dedup family should then look at.
    *
    * Exactness: all counts exact longs; Σc² in DECIMAL(38,0) with the
    * x304 cast-before-multiply rule (c² wraps long past ~3·10⁹
    * occurrences of one token); the two ratios are single divisions from
    * exact integers, round6.
    *
    * Scale shape: one (source, token) map-combining aggregate, then a
    * |sources|-row finale. Nothing corpus-sized shuffles.
    */
  def x306LexicalRichness(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    sourceTokenCounts(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
        sum((col("c") === 1).cast("long")).as("v1"),
        sum((col("c") === 2).cast("long")).as("v2"),
        sum(dec(col("c")) * dec(col("c"))).as("s2"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("v1"),
        col("v2"),
        stableRound6(col("v1").cast("double") / col("n_types").cast("double"))
          .as("hapax_share"),
        stableRound6(lit(10000.0) *
          (col("s2").cast("double") - col("n_tokens").cast("double")) /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("yule_k"))
      .orderBy("source")
  }

  /** x307 — SIMPSON CONCENTRATION of each source's token distribution
    * (round-12): the unbiased Simpson index λ = Σc(c−1)/(N(N−1)) (the
    * probability two sampled tokens coincide), its inverse 1/λ — the
    * "effective vocabulary size" in types — and the Berger–Parker
    * dominance max(c)/N. Completes the concentration family: x101's
    * entropy weights the whole distribution logarithmically; Simpson is
    * the ℓ₂ member (and the x278 F₂ normalized), the one a sampling
    * collision argument actually uses.
    *
    * Exactness: c(c−1) and N(N−1) in DECIMAL(38,0) (cast before
    * multiply); λ and 1/λ are each ONE division of the exact decimal
    * pair, round6 (inverse from the EXACT ratio, not from rounded λ);
    * NULL when Σc(c−1) = 0 (all-hapax source; mirrored CASE).
    *
    * Scale shape: identical to x306 — vocabulary aggregate + |sources|
    * finale.
    */
  def x307SimpsonConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    sourceTokenCounts(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
        max("c").as("cmax"),
        sum(dec(col("c")) * (dec(col("c")) - 1)).as("coll"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        when(col("coll") > 0, stableRound6(col("coll").cast("double") /
          (dec(col("n_tokens")) * (dec(col("n_tokens")) - 1)).cast("double")))
          .as("simpson"),
        when(col("coll") > 0, stableRound6(
          (dec(col("n_tokens")) * (dec(col("n_tokens")) - 1)).cast("double") /
            col("coll").cast("double"))).as("eff_types"),
        stableRound6(col("cmax").cast("double") / col("n_tokens").cast("double"))
          .as("berger_parker"))
      .orderBy("source")
  }

  /** The three binary document raters shared by x286 (Fleiss), x266
    * (Cohen on two of them), x308 (McNemar) and x314 (Cochran's Q):
    * length (n_chars ≥ 120), tokens (≥ 24) and language (= 'en'). One
    * definition so the agreement family cannot drift. */
  private def raters(spark: SparkSession, sfDir: String): DataFrame =
    Io.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("doc_id"),
        (col("n_chars") >= 120).cast("long").as("r_len"),
        (size(split(col("text"), " ")) >= 24).cast("long").as("r_tok"),
        (col("lang") === "en").cast("long").as("r_lang"))

  /** x308 — McNEMAR'S TEST between the length and token quality rules
    * (round-12): the 2×2 table of per-document verdicts and the statistic
    * (b−c)²/(b+c) over the DISCORDANT cells — the paired-comparison test
    * x266's κ does not give: κ scores agreement, McNemar scores whether
    * the two rules' DISAGREEMENTS are symmetric (a significant statistic
    * means one rule is systematically stricter, i.e. swapping rules
    * changes the kept corpus, not just relabels it). Uncorrected form
    * (no continuity correction), documented.
    *
    * Exactness: pure integer cells; one squared difference over one sum,
    * both exact (DECIMAL cast before the square — the x304 rule), one
    * division, round6; NULL when b+c = 0 (perfect agreement; mirrored).
    *
    * Scale shape: one corpus scan collapsing map-side to 4 cells.
    */
  def x308Mcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    raters(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"),
        sum((col("r_len") === 1 && col("r_tok") === 1).cast("long")).as("n11"),
        sum((col("r_len") === 1 && col("r_tok") === 0).cast("long")).as("n10"),
        sum((col("r_len") === 0 && col("r_tok") === 1).cast("long")).as("n01"),
        sum((col("r_len") === 0 && col("r_tok") === 0).cast("long")).as("n00"))
      .select(col("n_docs"), col("n11"), col("n10"), col("n01"), col("n00"),
        when(col("n10") + col("n01") > 0, stableRound6(
          ((dec(col("n10")) - dec(col("n01"))) *
            (dec(col("n10")) - dec(col("n01")))).cast("double") /
          (col("n10") + col("n01")).cast("double"))).as("mcnemar"))
  }

  /** x309 — CRAMÉR'S V of the source × language association (round-12):
    * the full r×c contingency χ² (x193 tests one fixed pair of margins;
    * this is the whole grid) normalized to the [0,1] effect size
    * V = √(χ²/(N·min(r−1, c−1))) — the number that makes association
    * COMPARABLE across corpora of different size: χ² grows linearly with
    * N at fixed association, V does not, so "is language confounded with
    * source" finally has a scale-free answer the mix designers (x54/x108)
    * can threshold.
    *
    * Exactness: the χ² term chain is exactly x304's — exact-integer
    * numerator (DECIMAL(38,0) casts BEFORE the products), one division
    * per cell, round6, DECIMAL sum; V is one sqrt of a division of the
    * decimal sum, round6; NULL when min(r−1, c−1) = 0 (mirrored).
    *
    * Scale shape: one corpus scan to the r×c cell grid (map-combining),
    * margins from the cells, a cells×margins equi-join on tiny frames,
    * 1-row finale.
    */
  def x309CramersV(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val cells = Io.table(spark, sfDir, "documents")
      .filter(col("source").isNotNull && col("lang").isNotNull)
      .groupBy("source", "lang").agg(count(lit(1)).as("n_sl"))
    val rows = cells.groupBy("source").agg(sum("n_sl").as("ns"))
    val cols = cells.groupBy("lang").agg(sum("n_sl").as("nl"))
    val tot = cells.agg(sum("n_sl").as("n"),
      count_distinct(col("source")).as("r"),
      count_distinct(col("lang")).as("c"))
    // zero cells contribute E_sl = ns*nl/n each: sum over the FULL grid =
    // sum over observed cells of the exact term PLUS the zero-cell
    // expectations; the zero-cell part equals N - sum(E over observed)
    // (since sum of E over the full grid is N) - so chi2 =
    // sum_observed((o*n - ns*nl)^2/(ns*nl*n)) + (N - sum_observed(ns*nl/n))
    val term = stableRound6(
      ((dec(col("n_sl")) * dec(col("n")) - dec(col("ns")) * dec(col("nl"))) *
        (dec(col("n_sl")) * dec(col("n")) - dec(col("ns")) * dec(col("nl"))))
        .cast("double") /
      (dec(col("ns")) * dec(col("nl"))).cast("double") / col("n").cast("double"))
      .cast("decimal(18,6)")
    val eTerm = stableRound6(
      (dec(col("ns")) * dec(col("nl"))).cast("double") / col("n").cast("double"))
      .cast("decimal(18,6)")
    val agg = cells.join(broadcast(rows), Seq("source"))
      .join(broadcast(cols), Seq("lang"))
      .crossJoin(broadcast(tot))
      .agg(sum(term).cast("decimal(28,6)").as("chi_obs"),
        sum(eTerm).cast("decimal(28,6)").as("e_obs"),
        min("n").as("n"), min("r").as("r"), min("c").as("c"))
    agg.select(col("n"), col("r"), col("c"),
        (col("chi_obs").cast("double") +
          (col("n").cast("double") - col("e_obs").cast("double"))).as("chi2d"),
        least(col("r") - 1, col("c") - 1).as("mindim"))
      .select(col("n"), col("r"), col("c"),
        stableRound6(col("chi2d")).as("chi2"),
        when(col("mindim") > 0, stableRound6(sqrt(col("chi2d") /
          (col("n").cast("double") * col("mindim").cast("double")))))
          .as("cramers_v"))
  }

  /** x310 — MUTUAL INFORMATION between source and the length-quality flag
    * (round-12): I(S;Q) = Σ p(s,q)·ln(p(s,q)/(p(s)p(q))) in nats over the
    * |sources|×2 grid — the selection-bias meter for a quality gate: x216
    * correlates dup-ness with quality per document; this says how much
    * KNOWING the source already tells you about passing the filter (high
    * MI = the gate is a disguised source filter, exactly what a mix
    * designer must not ship blind).
    *
    * Exactness: each term is (n_sq/N)·ln(n_sq·N/(n_s·n_q)) — the ln of an
    * exact-integer ratio (DECIMAL products cast double — x267's rule),
    * weighted by an exact ratio, round6 per term, DECIMAL sum; zero
    * cells contribute 0 (lim x·ln x = 0) and are simply absent from the
    * observed-cell sum.
    *
    * Scale shape: one corpus scan to ≤2|sources| cells; margins and one
    * broadcast; the finale repeats the corpus MI on each cell row
    * (x265's repeated-scalar pattern).
    */
  def x310MutualInformation(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val cells = Io.table(spark, sfDir, "documents")
      .filter(col("source").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), (col("n_chars") >= 120).cast("long").as("flag"))
      .groupBy("source", "flag").agg(count(lit(1)).as("n_sq"))
    val ms = cells.groupBy("source").agg(sum("n_sq").as("ns"))
    val mq = cells.groupBy("flag").agg(sum("n_sq").as("nq"))
    val tot = cells.agg(sum("n_sq").as("n"))
    val term = stableRound6(
      (col("n_sq").cast("double") / col("n").cast("double")) *
        log((dec(col("n_sq")) * dec(col("n"))).cast("double") /
          (dec(col("ns")) * dec(col("nq"))).cast("double")))
      .cast("decimal(18,6)")
    val withTerm = cells.join(broadcast(ms), Seq("source"))
      .join(broadcast(mq), Seq("flag"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("flag"), col("n_sq"), term.as("t6"))
    val mi = withTerm.agg(sum("t6").cast("decimal(28,6)").as("mi"))
    withTerm.crossJoin(broadcast(mi))
      .select(col("source"), col("flag"), col("n_sq"),
        col("t6").cast("double").as("term"),
        col("mi").cast("double").as("mi_nats"))
      .orderBy("source", "flag")
  }

  /** x314 — COCHRAN'S Q over the three binary raters (round-12): the
    * k-sample generalization of McNemar — Q = (k−1)·(k·ΣG_j² − (ΣG_j)²) /
    * (k·ΣL_i − ΣL_i²) with G_j the per-rater pass totals and L_i the
    * per-document pass count — closing the agreement family: x266 pairs,
    * x286 chance-corrected consensus, x308 one pair's asymmetry, Q "do
    * the three rules even have the same pass RATE" (the precondition the
    * kappa family silently assumes).
    *
    * Exactness: G_j and the L-moments are exact longs from one scan
    * (ΣL = ΣG by double counting — computed once); squares in
    * DECIMAL(38,0); one division, round6; NULL when the denominator is 0
    * (every document passes all rules or none; mirrored).
    *
    * Scale shape: one corpus scan collapsing map-side to 5 totals.
    */
  def x314CochranQ(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val li = col("r_len") + col("r_tok") + col("r_lang")
    raters(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"),
        sum("r_len").as("g_len"), sum("r_tok").as("g_tok"),
        sum("r_lang").as("g_lang"),
        sum(li).as("sl"), sum(dec(li) * dec(li)).as("sl2"))
      .select(col("n_docs"), col("g_len"), col("g_tok"), col("g_lang"),
        when(lit(3) * dec(col("sl")) - col("sl2") > 0, stableRound6(
          (lit(2) * (lit(3) * (dec(col("g_len")) * dec(col("g_len")) +
            dec(col("g_tok")) * dec(col("g_tok")) +
            dec(col("g_lang")) * dec(col("g_lang"))) -
            dec(col("sl")) * dec(col("sl")))).cast("double") /
          (lit(3) * dec(col("sl")) - col("sl2")).cast("double")))
          .as("cochran_q"))
  }

  /** The daily event-volume series shared by x312/x313/x323/x324 (and
    * semantically identical to x208's day frame): value micros summed per
    * UTC day. Day cardinality is bounded by the fixture's TIME RANGE, not
    * the corpus — the constant-frame class, so unpartitioned windows over
    * it are legal (the x301 rule). */
  private def dailySeries(spark: SparkSession, sfDir: String): DataFrame =
    Io.events(spark, sfDir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 1000000 + 0.5).cast("long").as("v"))
      .groupBy("day").agg(sum("v").as("x"))

  /** x312 — WALD–WOLFOWITZ RUNS TEST on the signs of day-over-day volume
    * changes (round-12): number of runs R among the nonzero deltas vs the
    * E[R] = 1 + 2n₊n₋/n and Var[R] of a random arrangement, z-scored —
    * the randomness screen the drift family lacks: x207's CUSUM finds a
    * sustained LEVEL shift, the runs test finds serial DEPENDENCE of any
    * sign (too few runs = trending/sticky days, too many = oscillation),
    * with no distributional assumption on the magnitudes.
    *
    * Exactness: signs and run boundaries are integer comparisons through
    * two lag windows; R/n₊/n₋ exact longs; E[R] and Var[R] evaluated as
    * one float chain from exact longs (DECIMAL products where they can
    * wrap), round6; z NULL when Var ≤ 0 (all deltas one sign; mirrored).
    *
    * Scale shape: the corpus collapses to the day frame map-side; both
    * windows and the finale run on day-cardinality rows.
    */
  def x312RunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day")
    val sgn = dailySeries(spark, sfDir)
      .withColumn("prev", lag("x", 1).over(w))
      .filter(col("prev").isNotNull && col("x") =!= col("prev"))
      .withColumn("s", when(col("x") > col("prev"), lit(1L)).otherwise(lit(-1L)))
    val runs = sgn.withColumn("sPrev", lag("s", 1).over(w))
      .agg(count(lit(1)).as("n"),
        sum((col("s") === 1).cast("long")).as("n_plus"),
        sum((col("s") === -1).cast("long")).as("n_minus"),
        (sum((col("sPrev").isNotNull &&
          col("s") =!= col("sPrev")).cast("long")) + 1L).as("n_runs"))
    val twoPm = lit(2.0) * col("n_plus").cast("double") * col("n_minus").cast("double")
    val er = lit(1.0) + twoPm / col("n").cast("double")
    val vr = twoPm * (twoPm - col("n").cast("double")) /
      (col("n").cast("double") * col("n").cast("double") *
        (col("n").cast("double") - 1.0))
    runs.select(col("n"), col("n_plus"), col("n_minus"), col("n_runs"),
      stableRound6(er).as("expected_runs"),
      when(col("n") > 1 && col("n_plus") > 0 && col("n_minus") > 0,
        stableRound6(vr)).as("var_runs"),
      when(col("n") > 1 && col("n_plus") > 0 && col("n_minus") > 0 && vr > 0,
        stableRound6((col("n_runs").cast("double") - er) / sqrt(vr))).as("z"))
  }

  /** x313 — LJUNG–BOX PORTMANTEAU over the first 7 autocorrelations
    * (round-12): Q_m = n(n+2)·Σ_{k≤m} r_k²/(n−k) for m = 1..7, riding
    * x208's declared ACF output verbatim (ONE implementation of r_k — the
    * x46/x69 shared-core rule) — the whiteness test that turns x208's
    * seven separate numbers into one cumulative evidence curve: x208
    * shows the correlogram, Q_m says whether the first m lags JOINTLY
    * exceed chance, which is the go/no-go a forecasting or
    * drift-detection consumer actually needs.
    *
    * Exactness: r_k is x208's round6 output (the quantized orbit is the
    * declared semantics — both engines walk it identically); each term
    * r_k²/(n−k) is one float chain round6 → DECIMAL cumulative sum over
    * the 7-row frame; Q is one multiplication of the exact decimal sum,
    * round6.
    *
    * Scale shape: x208's plan plus a 1-row day count and a 7-row window.
    */
  def x313LjungBox(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val acf = ExtendedQueries.x208Acf(spark, sfDir)
    val nd = dailySeries(spark, sfDir).agg(count(lit(1)).as("nd"))
    val w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    acf.crossJoin(broadcast(nd))
      .withColumn("t6", stableRound6(col("r") * col("r") /
        (col("nd") - col("lag")).cast("double")).cast("decimal(18,6)"))
      .withColumn("cum", sum("t6").over(w).cast("decimal(28,6)"))
      .select(col("lag"), col("r"),
        stableRound6(col("nd").cast("double") *
          (col("nd").cast("double") + 2.0) * col("cum").cast("double"))
          .as("q"))
      .orderBy("lag")
  }

  /** x323 — MANN–KENDALL TREND TEST + SEN'S SLOPE on the daily series
    * (round-12): S = Σ_{i<j} sign(x_j − x_i), the tie-corrected variance,
    * the continuity-corrected z, and the Theil–Sen slope (here: the LOWER
    * MEDIAN of the round6'd pairwise slopes — a deterministic integer-
    * position pick, no interpolation to drift between engines) — the
    * standard nonparametric monotone-trend pack (x144's OLS slope assumes
    * linearity and is one outlier day from nonsense; MK/Sen is what
    * operations actually alarms on).
    *
    * Exactness: S and the tie spectrum are exact integer counting; Var
    * is one float chain from exact longs (DECIMAL products), round6;
    * slopes are round6'd BEFORE ranking so both engines rank the same
    * quantized values; the median pick is row_number = ⌈m/2⌉ over
    * (slope6, i, j) — a total order.
    *
    * Scale shape: the day-pair self-join is day²-bounded (time-range²,
    * never corpus); tie groups are value-cardinality; windows run on the
    * pair frame. All constant-class.
    */
  def x323MannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val day = dailySeries(spark, sfDir)
    val pairs = day.as("a").join(day.as("b"), col("a.day") < col("b.day"))
      .select(col("a.day").as("di"), col("b.day").as("dj"),
        col("a.x").as("xi"), col("b.x").as("xj"))
    val sAgg = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("xj") > col("xi"), 1L).when(col("xj") < col("xi"), -1L)
        .otherwise(0L)).as("s"))
    val n = day.agg(count(lit(1)).as("n"))
    val ties = day.groupBy("x").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(dec(col("t")) * (dec(col("t")) - 1) *
        (dec(col("t")) * 2 + 5)), lit(0).cast("decimal(38,0)")).as("tsum"))
    val slope = pairs.select(stableRound6(
        (col("xj") - col("xi")).cast("double") /
        (col("dj") - col("di")).cast("double")).as("sl6"),
      col("di"), col("dj"))
    val m = slope.agg(count(lit(1)).as("m"))
    val med = slope.crossJoin(broadcast(m))
      .withColumn("rn", row_number().over(Window.orderBy("sl6", "di", "dj")))
      .filter(col("rn").cast("long") === expr("(m + 1) div 2"))
      .select(col("sl6").as("sen_slope"))
    val varD = (dec(col("n")) * (dec(col("n")) - 1) * (dec(col("n")) * 2 + 5) -
      col("tsum")).cast("double") / 18.0
    val zNum = when(col("s") > 0, col("s") - 1)
      .when(col("s") < 0, col("s") + 1).otherwise(lit(0L))
    sAgg.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .crossJoin(broadcast(med))
      .select(col("n").as("n_days"), col("n_pairs"), col("s").as("s_stat"),
        stableRound6(varD).as("var_s"),
        when(varD > 0, stableRound6(zNum.cast("double") / sqrt(varD))).as("z"),
        col("sen_slope"))
  }

  /** x324 — DURBIN–WATSON on the daily linear-trend residuals (round-12):
    * OLS of volume on day, then DW = Σ(e_t − e_{t−1})²/Σe_t² — the
    * serial-correlation check of the REGRESSION the library already fits
    * (x144's slope is only trustworthy if its residuals are white; x312
    * tests the raw signs, DW tests the detrended series — DW ≈ 2 white,
    * → 0 positive autocorrelation, → 4 alternation).
    *
    * Series units: per-day sums of the round6'd raw VALUES (not the
    * micros-long x208 series — its 10¹⁵-scale residuals square past any
    * 38-digit decimal in either engine), regressed on the CENTERED day
    * index t = day − min(day). DW is scale- and shift-invariant, so the
    * statistic is unchanged; the decimals stay exact.
    *
    * Exactness: the day sums are exact DECIMAL sums of round6 values;
    * OLS moments exact (Σx, Σt·x in DECIMAL, Σt/Σt² long); b and a are
    * round6 floats from exact moments; residuals round6 → squared as
    * exact DECIMAL(37,12), summed as DECIMAL(38,12); DW is one division
    * of the two decimal sums, round6, NULL when Σe² = 0 (mirrored).
    *
    * Scale shape: map-side day collapse, 1-row moments, one lag window
    * over the day frame.
    */
  def x324DurbinWatson(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val dayRaw = Io.events(spark, sfDir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        stableRound6(col("value")).cast("decimal(18,6)").as("v6"))
      .groupBy("day").agg(sum("v6").cast("decimal(28,6)").as("x"))
    val dmin = dayRaw.agg(min("day").as("dmin"))
    val day = dayRaw.crossJoin(broadcast(dmin))
      .select((col("day") - col("dmin")).as("t"), col("x"))
    val mom = day.agg(count(lit(1)).as("n"), sum("t").as("st"),
      sum(col("t") * col("t")).as("stt"),
      sum("x").cast("decimal(38,6)").as("sx"),
      sum(col("x") * col("t").cast("decimal(10,0)")).cast("decimal(38,6)")
        .as("stx"))
    val bD = (col("n").cast("double") * col("stx").cast("double") -
      col("st").cast("double") * col("sx").cast("double")) /
      (col("n").cast("double") * col("stt").cast("double") -
        col("st").cast("double") * col("st").cast("double"))
    val fit = mom.select(col("n"), stableRound6(bD).as("b6"),
      col("st"), col("sx"))
      .select(col("n"), col("b6"),
        stableRound6((col("sx").cast("double") -
          col("b6") * col("st").cast("double")) / col("n").cast("double"))
          .as("a6"))
    val e = day.crossJoin(broadcast(fit))
      .select(col("t"), col("n"), col("b6"), col("a6"),
        stableRound6(col("x").cast("double") - col("a6") -
          col("b6") * col("t").cast("double")).cast("decimal(18,6)").as("e6"))
    val w = Window.orderBy("t")
    e.withColumn("ePrev", lag("e6", 1).over(w))
      .agg(min("n").as("n_days"), min("b6").as("slope"),
        sum((col("e6") * col("e6")).cast("decimal(38,12)")).as("see"),
        sum(((col("e6") - col("ePrev")) * (col("e6") - col("ePrev")))
          .cast("decimal(38,12)")).as("sdd"))
      .select(col("n_days"), col("slope"),
        when(col("see") > 0, stableRound6(col("sdd").cast("double") /
          col("see").cast("double"))).as("dw"))
  }

  /** x311 — VOCABULARY LORENZ DECILES (round-12): rank the corpus
    * vocabulary by frequency, split the TYPE axis into 10 equal deciles,
    * and report each decile's token mass and the cumulative shares — the
    * Lorenz curve behind x218's single Gini number and x239's fitted
    * slope: the full concentration PROFILE ("the top 10% of types carry
    * X% of tokens"), which is the actual input to a frequency-capped
    * vocabulary decision (x303 prices one cut; this shows every cut at
    * decile resolution).
    *
    * The global rank rides [[graft.operators.RangeRank]] (EIGHTH declared
    * consumer, constant key): ordering the vocabulary by (−count, token)
    * in one window would serialize the vocab into one task at corpus
    * scale.
    *
    * Exactness: decile assignment is pure integer arithmetic on the
    * exact rank ((10·(r−1)) div V + 1); masses exact longs; shares are
    * single divisions, round6; the cumulative walk runs over the 10-row
    * frame.
    *
    * Scale shape: one vocabulary-sized count aggregate, the two-pass
    * RangeRank over the vocab, a 10-row finale. Nothing corpus-sized
    * shuffles; rank parallelism is decoupled from the single key.
    */
  def x311VocabLorenz(spark: SparkSession, sfDir: String): DataFrame = x311Pin.swapStaged {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val vocab = fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("nc", -col("c")).withColumn("g", lit(1))
    val tot = vocab.agg(count(lit(1)).as("v"), sum("c").as("n"))
    val ranking = graft.operators.RangeRank.rankWithinOwned(
      vocab, "g", Seq("nc", "w"), "r")
    val dec10 = ranking.df.crossJoin(broadcast(tot))
      .withColumn("decile", expr("(10 * (r - 1)) div v + 1"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_types"), sum("c").as("mass"),
        min("v").as("v"), min("n").as("n"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    val out = dec10.withColumn("cum_mass", sum("mass").over(w))
      .select(col("decile"), col("n_types"), col("mass"), col("cum_mass"),
        stableRound6(col("mass").cast("double") / col("n").cast("double"))
          .as("mass_share"),
        stableRound6(col("cum_mass").cast("double") / col("n").cast("double"))
          .as("cum_share"))
      .orderBy("decile")
    (out, () => ranking.release())
  }

  private val x311Pin = new graft.core.PinnedResult

  /** x315 — HISTOGRAM DISTANCES per source vs the corpus (round-12): the
    * Bhattacharyya coefficient BC = Σ√(p_b·q_b), Hellinger distance
    * √(1−BC) and total-variation distance ½Σ|p_b−q_b| between each
    * source's doc-length histogram (100-char buckets) and the pooled
    * corpus histogram — three distances with different sensitivities
    * (TVD = worst-case probability gap, Hellinger = geometric mean
    * overlap) on ONE grid, where the divergence family so far offers
    * KL-flavored members only (x215 JSD, x244 PSI): TVD is the bound
    * that actually appears in sampling-error guarantees.
    *
    * Exactness: the (source, bucket) grid is zero-filled via the x304
    * spine; each term is one float chain from exact-integer ratios,
    * round6, DECIMAL-summed; Hellinger takes one sqrt of the decimal
    * BC (clamped at 1 — rounding can nudge BC a hair past it), round6.
    *
    * Scale shape: one corpus scan to ≤|sources|·|buckets| cells; margins
    * broadcast; the spine is a tiny cross. Buckets are value-range
    * bounded, never corpus-sized.
    */
  def x315HistDistances(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val cells = Io.table(spark, sfDir, "documents")
      .filter(col("n_chars").isNotNull && col("source").isNotNull)
      .select(col("source"), expr("cast(n_chars as bigint) div 100").as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("o"))
    val ns = cells.groupBy("source").agg(sum("o").as("n_s"))
    val nb = cells.groupBy("b").agg(sum("o").as("n_b"))
    val tot = cells.agg(sum("o").as("n"))
    val grid = ns.crossJoin(broadcast(nb))
      .join(cells, Seq("source", "b"), "left")
      .select(col("source"), col("n_s"), col("b"), col("n_b"),
        coalesce(col("o"), lit(0L)).as("o"))
    val p = col("o").cast("double") / col("n_s").cast("double")
    val q = col("n_b").cast("double") / col("n").cast("double")
    grid.crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"),
        stableRound6(sqrt(p * q)).cast("decimal(18,6)").as("bc6"),
        stableRound6(abs(p - q)).cast("decimal(18,6)").as("tv6"))
      .groupBy("source")
      .agg(min("n_s").as("n_docs"),
        sum("bc6").cast("decimal(28,6)").as("bc"),
        sum("tv6").cast("decimal(28,6)").as("tv"))
      .select(col("source"), col("n_docs"),
        stableRound6(col("bc").cast("double")).as("bhattacharyya"),
        stableRound6(sqrt(greatest(lit(0.0),
          lit(1.0) - col("bc").cast("double")))).as("hellinger"),
        stableRound6(col("tv").cast("double") / 2.0).as("tvd"))
      .orderBy("source")
  }

  /** x316 — CLIFF'S DELTA of each source's length distribution vs the
    * rest of the corpus (round-12): δ = (#{x>y} − #{x<y})/(n₁·n₂) over
    * all cross pairs, computed WITHOUT enumerating pairs — per distinct
    * length v, the rest-corpus counts strictly below/above v come from
    * two cumulative walks (global minus own), so the pair sums collapse
    * to value-cardinality arithmetic. The ordinal effect size to x242's
    * parametric t and x202's U: δ is U rescaled to [−1,1], robust to any
    * monotone transform — "does source s write LONGER docs, and by how
    * much" with no normality assumption.
    *
    * Exactness: pure integer counting through the two cumulative
    * windows; the pair-sum products are DECIMAL(38,0) (n₁·n₂ wraps long
    * at ~3·10⁹ docs); ONE division, round6; NULL for a source with an
    * empty complement (single-source corpus; mirrored).
    *
    * Scale shape: one corpus scan to the (source, length) grid; windows
    * run over value-cardinality frames (lengths, not docs); finale is
    * |sources|-sized.
    */
  def x316CliffsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val sv = Io.table(spark, sfDir, "documents")
      .filter(col("n_chars").isNotNull && col("source").isNotNull)
      .select(col("source"), col("n_chars").cast("long").as("v"))
      .groupBy("source", "v").agg(count(lit(1)).as("a"))
    val gv = sv.groupBy("v").agg(sum("a").as("nv"))
    val gcum = gv.withColumn("cumAll", sum("nv").over(
      Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
    val scum = sv.withColumn("cumOwn", sum("a").over(
      Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val tot = gv.agg(sum("nv").as("n"))
    val nsrc = sv.groupBy("source").agg(sum("a").as("n_own"))
    val joined = scum.join(gcum, Seq("v"))
      .join(broadcast(nsrc), Seq("source"))
      .crossJoin(broadcast(tot))
    val lessRest = (col("cumAll") - col("nv")) - (col("cumOwn") - col("a"))
    val greaterRest = (col("n") - col("cumAll")) - (col("n_own") - col("cumOwn"))
    joined
      .groupBy("source")
      .agg(min("n_own").as("n_own"), min(col("n") - col("n_own")).as("n_rest"),
        sum(dec(col("a")) * (dec(lessRest) - dec(greaterRest))).as("num"))
      .select(col("source"), col("n_own"), col("n_rest"),
        when(col("n_rest") > 0, stableRound6(col("num").cast("double") /
          (dec(col("n_own")) * dec(col("n_rest"))).cast("double")))
          .as("cliffs_delta"))
      .orderBy("source")
  }

  /** x317 — PRIORITY SAMPLING of 50 documents by character weight
    * (round-12): priority q_i = w_i/u_i with u_i a deterministic
    * md5-uniform in (0,1]; keep the top-50 by priority, τ = the 51st
    * priority, and the Duffield–Lund–Thorup estimator ŵ_i = max(w_i, τ)
    * — the weighted-sampling member with a GUARANTEED unbiased subset-sum
    * estimator (x80's weighted sample picks representatively; priority
    * sampling is what you use when the sample must RECONSTRUCT totals,
    * the 100 TB "estimate any source's byte volume from 50 docs" tool).
    *
    * Exactness: u_i = (first 13 md5 hex digits + 1)/2⁵² — an exact
    * dyadic rational both engines evaluate identically in IEEE double,
    * so the priority order (tie-broken by doc_id) is identical; τ and
    * the estimates are round6 at the edges; the estimator total is a
    * DECIMAL sum of round6 values vs the exact long true total.
    *
    * Scale shape: per-row hash + division in the scan,
    * TakeOrderedAndProject(51), then 51-row arithmetic and two 1-row
    * crosses. The corpus is scanned once.
    */
  def x317PrioritySample(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val base = Io.table(spark, sfDir, "documents")
      .filter(col("n_chars").isNotNull && col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("u",
        (expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10) as bigint)")
          + 1L).cast("double") / lit(4503599627370496.0))
      .withColumn("q", col("w").cast("double") / col("u"))
    val top = base.orderBy(col("q").desc, col("doc_id")).limit(51)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("q").desc, col("doc_id"))))
    val tau = top.filter(col("rn") === 51)
      .agg(coalesce(min(ExtendedQueries.stableRound6(col("q"))), lit(0.0))
        .as("tau6"))
    val tTot = base.agg(sum("w").as("true_total"))
    val sample = top.filter(col("rn") <= 50).crossJoin(broadcast(tau))
      .withColumn("w_est6",
        stableRound6(greatest(col("w").cast("double"), col("tau6"))))
    val eTot = sample.agg(sum(col("w_est6").cast("decimal(28,6)"))
      .cast("decimal(28,6)").as("est"))
    sample.crossJoin(broadcast(eTot)).crossJoin(broadcast(tTot))
      .select(col("doc_id"), col("w"), stableRound6(col("q")).as("priority"),
        col("tau6").as("tau"), col("w_est6").as("w_est"),
        col("est").cast("double").as("est_total"), col("true_total"))
      .orderBy("doc_id")
  }

  /** x319 — BLOCKING PAIR COMPLETENESS of the sorted-neighborhood key
    * (round-12): with ground truth = pairs sharing the order-insensitive
    * token-set fingerprint (x269's fp), measure what fraction of true
    * pairs land in the same first-8-chars block (x83's key) and the
    * blocking's reduction ratio 1 − candidates/all-pairs — the standard
    * record-linkage evaluation pair (pair completeness vs reduction
    * ratio): x83/x84 USE the blocks, x280 scores candidates; nothing yet
    * measured what the block key MISSES (a set-identical doc pair with
    * different leading words is exactly the recall hole).
    *
    * Exactness: every quantity is collapse arithmetic — Σ C(m,2) over
    * fingerprint groups, Σ C(c,2) over (fp, block) subgroups, Σ C(n,2)
    * over blocks — exact integers in DECIMAL (m(m−1) wraps long at
    * ~3·10⁹-doc groups); two divisions, round6, NULL completeness when
    * there are no true pairs (mirrored).
    *
    * Scale shape: three map-combining aggregates over group-collapsed
    * frames; no pair is ever materialized (the x269 argument).
    */
  def x319PairCompleteness(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val d = Io.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(
          split(col("text"), " "))), " ")).as("fp"),
        substring(col("text"), 1, 8).as("blk"))
    def c2(c: Column): Column = (dec(c) * (dec(c) - 1) / 2).cast("decimal(38,0)")
    val truth = d.groupBy("fp").agg(count(lit(1)).as("m"))
      .agg(sum(c2(col("m"))).as("true_pairs"), sum("m").as("n_docs"))
    val caught = d.groupBy("fp", "blk").agg(count(lit(1)).as("c"))
      .agg(sum(c2(col("c"))).as("caught_pairs"))
    val cand = d.groupBy("blk").agg(count(lit(1)).as("nb"))
      .agg(sum(c2(col("nb"))).as("cand_pairs"))
    truth.crossJoin(broadcast(caught)).crossJoin(broadcast(cand))
      .select(col("n_docs"),
        col("true_pairs").cast("long").as("true_pairs"),
        col("caught_pairs").cast("long").as("caught_pairs"),
        when(col("true_pairs") > 0, stableRound6(
          col("caught_pairs").cast("double") / col("true_pairs").cast("double")))
          .as("pair_completeness"),
        col("cand_pairs").cast("long").as("cand_pairs"),
        stableRound6(lit(1.0) - col("cand_pairs").cast("double") /
          c2(col("n_docs")).cast("double")).as("reduction_ratio"))
  }

  /** x320 — DISTINCT-n DIVERSITY per source (round-12): distinct n-grams
    * over total n-grams for n = 1, 2, 3 (the distinct-n metric of Li et
    * al. 2016) — the degeneration screen at SOURCE granularity: x55's TTR
    * is distinct-1 per document, x256 flags within-doc 5-gram loops; a
    * LOW distinct-2/3 across a whole source is template/boilerplate
    * structure that per-document metrics average away.
    *
    * Exactness: pure counting — each (source, gram) collapse gives the
    * distinct count as the group count and the total as Σc; one division
    * per (source, n), round6.
    *
    * Scale shape: three gram explodes (n = 1, 2, 3), each collapsing
    * map-side to its (source, gram) vocabulary; the union'd finale is
    * 3·|sources| rows.
    */
  def x320DistinctN(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val tok = fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("source"), split(col("text"), " ").as("toks"))
    def grams(n: Int): DataFrame = {
      val g =
        if (n == 1) tok.select(col("source"), explode(col("toks")).as("gram"))
        else tok.select(col("source"), col("toks"), explode(expr(
            s"""CASE WHEN size(toks) < $n THEN CAST(array() AS ARRAY<INT>)
               |ELSE sequence(1, size(toks) - ${n - 1}) END""".stripMargin))
            .as("i"))
          .select(col("source"), concat_ws(" ",
            (0 until n).map(k => expr(s"element_at(toks, i + $k)")): _*)
            .as("gram"))
      g.groupBy("source", "gram").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_distinct"), sum("c").as("n_total"))
        .select(col("source"), lit(n.toLong).as("n"), col("n_total"),
          col("n_distinct"),
          stableRound6(col("n_distinct").cast("double") /
            col("n_total").cast("double")).as("distinct_ratio"))
    }
    grams(1).unionAll(grams(2)).unionAll(grams(3))
      .orderBy("source", "n")
  }

  /** x321 — GOPHER QUALITY-RULE PANEL per source (round-12): the four
    * deterministically-computable rules of the Gopher filter set (Rae et
    * al. 2021): word count in [50, 100000], mean word length in [3, 10],
    * ≤10% of words containing a non-alphabetic character, and ≥2 distinct
    * common stopwords present — per-source pass counts and rates plus the
    * all-rules rate. The filter-bank face (x178) scores documents on
    * thresholds tuned to THIS fixture; the Gopher panel is the
    * literature-standard rule set a real pipeline starts from, so its
    * per-source pass profile is the first thing a data curator reads.
    *
    * Exactness: every rule is an INTEGER inequality (mean word length as
    * 3W ≤ L ≤ 10W, the symbol ratio as 10·n_sym ≤ W — no float
    * thresholds anywhere); rates are single divisions, round6.
    *
    * Scale shape: per-row array arithmetic in the scan, one map-combining
    * source aggregate.
    */
  def x321GopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val d = Io.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("nw", size(col("toks")).cast("long"))
      .withColumn("lw", length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("nsym", expr(
        "size(filter(toks, x -> x rlike '[^a-zA-Z]'))").cast("long"))
      .withColumn("nstop", size(array_intersect(array_distinct(col("toks")),
        array(LlmQueries.Stopwords.map(lit): _*))).cast("long"))
      .select(col("source"),
        (col("nw") >= 50 && col("nw") <= 100000).cast("long").as("p1"),
        (lit(3) * col("nw") <= col("lw") &&
          col("lw") <= lit(10) * col("nw")).cast("long").as("p2"),
        (lit(10) * col("nsym") <= col("nw")).cast("long").as("p3"),
        (col("nstop") >= 2).cast("long").as("p4"))
      .withColumn("pall",
        (col("p1") === 1 && col("p2") === 1 && col("p3") === 1 &&
          col("p4") === 1).cast("long"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("p1").as("pass_words"),
        sum("p2").as("pass_wordlen"), sum("p3").as("pass_symbols"),
        sum("p4").as("pass_stopwords"), sum("pall").as("pass_all"))
      .select(col("source"), col("n_docs"), col("pass_words"),
        col("pass_wordlen"), col("pass_symbols"), col("pass_stopwords"),
        col("pass_all"),
        stableRound6(col("pass_all").cast("double") / col("n_docs").cast("double"))
          .as("pass_rate"))
      .orderBy("source")
  }

  /** x322 — b-BIT MINHASH CALIBRATION (round-12): on the x62 LSH
    * candidate pairs, compare the 1-bit minhash estimate (Li & König
    * 2010: store only each minhash's LAST BIT; with match fraction m̂
    * over k=16 bits, Ĵ₁ = 2m̂ − 1 under the b=1 collision correction)
    * against the full 16-hash estimate and the exact Jaccard — the
    * storage-accuracy frontier for signature tables: 1/32nd the bytes of
    * hex signatures, and this query shows exactly what that costs on
    * real candidates (the 100 TB dedup index sizing decision).
    *
    * Exactness: bits are the md5 hex signatures' last-digit parity
    * (conv/'0x' casts — byte-identical engines, the x272 pattern);
    * match counts exact ints; the three estimates and the error are
    * single float chains, round6. Negative Ĵ₁ is reported as-is
    * (an unbiased estimator's sampling noise — documented, not clamped).
    *
    * Scale shape: inherits x62's — banded candidates only (never
    * all-pairs), signature/shingle subsets joined per pair.
    */
  def x322BbitMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    def bit(c: Column): Column =
      conv(substring(c, 32, 1), 16, 10).cast("long") % 2
    val nBitsEq = (0 until 16)
      .map(j => (bit(col(s"mh${j}_1")) === bit(col(s"mh${j}_2"))).cast("long"))
      .reduce(_ + _)
    val nFullEq = (0 until 16)
      .map(j => (col(s"mh${j}_1") === col(s"mh${j}_2")).cast("long"))
      .reduce(_ + _)
    val jac = col("n_common").cast("double") /
      (col("n1") + col("n2") - col("n_common"))
    candJaccard(spark, sfDir)
      .withColumn("n_bits_eq", nBitsEq)
      .withColumn("n_full_eq", nFullEq)
      .select(col("d1"), col("d2"), col("n_bits_eq"),
        stableRound6(lit(2.0) * col("n_bits_eq").cast("double") / 16.0 - 1.0)
          .as("est_1bit"),
        stableRound6(col("n_full_eq").cast("double") / 16.0).as("est_full"),
        stableRound6(jac).as("jaccard"),
        stableRound6(abs(lit(2.0) * col("n_bits_eq").cast("double") / 16.0 -
          1.0 - jac)).as("abs_err_1bit"))
      .orderBy("d1", "d2")
  }

  /** x325 — NEYMAN OPTIMAL ALLOCATION of a 1000-document stratified
    * sample (round-12): n_h ∝ N_h·S_h (stratum size × length stddev),
    * integerized by LARGEST-REMAINDER so the allocations sum to exactly
    * 1000 — the design step x42's stratified sampler presupposes:
    * proportional allocation oversamples big uniform strata; Neyman is
    * the variance-minimizing split, and largest-remainder is the
    * deterministic integerization both engines can walk identically.
    *
    * Exactness: the per-stratum moments are exact (DECIMAL products);
    * S_h is one sqrt, round6; weights w_h = round6(N_h·s6) as DECIMAL
    * summed EXACTLY; shares/raw allocations are float from the decimal
    * pair; floors are floor() of identical doubles; remainders round6;
    * the +1 assignment ranks (remainder desc, source) — a total order —
    * against the exact integer deficit.
    *
    * Scale shape: one map-combining moment pass, then |sources|-row
    * arithmetic with one 1-row cross and one |sources|-row window.
    */
  def x325NeymanAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val mom = Io.table(spark, sfDir, "documents")
      .filter(col("n_chars").isNotNull && col("source").isNotNull)
      .select(col("source"), col("n_chars").cast("long").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("nh"), sum("x").as("sx"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
      .withColumn("s6", stableRound6(sqrt(greatest(lit(0.0),
        (dec(col("nh")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("double"))) / col("nh").cast("double")))
      .withColumn("wh", stableRound6(col("nh").cast("double") * col("s6"))
        .cast("decimal(18,6)"))
    val tot = mom.agg(sum("wh").cast("decimal(28,6)").as("t"))
    val raw = mom.crossJoin(broadcast(tot))
      .withColumn("rawAlloc", when(col("t") > 0,
        lit(1000.0) * col("wh").cast("double") / col("t").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("fl", floor(col("rawAlloc")).cast("long"))
      .withColumn("rem6", stableRound6(col("rawAlloc") - col("fl")))
    val deficit = raw.agg((lit(1000L) - sum("fl")).as("d"))
    raw.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem6").desc, col("source"))))
      .select(col("source"), col("nh").as("n_docs"), col("s6").as("stddev"),
        col("fl").as("alloc_floor"),
        (col("fl") + (col("rk") <= col("d")).cast("long")).as("alloc"))
      .orderBy("source")
  }

  /** x326 — SIMPLIFIED SILHOUETTE of the x52 clustering (round-12): per
    * vector, a = cosine distance to its OWN (argmax-cosine) center, b =
    * distance to the best OTHER center; s = (b−a)/max(a,b), averaged per
    * cluster — the clustering-quality meter the ANN/semantic family
    * builds on but never measures (x52 computes the step, x59 trusts the
    * clusters; silhouette says whether the codebook actually separates
    * the space, per cluster, BEFORE SemDeDup trusts its pair pruning).
    * Centers are x52's (vectors 1..8), so the audit scores the exact
    * clustering the family uses. Since a = 1−c₁ ≤ b = 1−c₂ by
    * construction, s = (c₁−c₂)/(1−c₂) — one chain per vector.
    *
    * Exactness: per-(vector, center) cosines round6 (the x52 rule);
    * best/second-best by max(struct) total order (cosine desc, cid asc);
    * per-vector s round6 → DECIMAL mean per cluster; NULL when c₂ = 1
    * (degenerate duplicate centers; mirrored).
    *
    * Scale shape: one broadcast 8-row codebook cross (x52's plan), two
    * vector-sized aggregates, an 8-row finale. Linear in vectors.
    */
  def x326Silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.{nativeDot, stableRound6}
    val emb = Io.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(nativeDot(col("embedding"), col("embedding"))).as("norm"))
    val cent = emb.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("norm").as("cnorm"))
    val ac = stableRound6(nativeDot(col("embedding"), col("cemb")) /
      (col("norm") * col("cnorm")))
    val scored = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"), ac.as("ac"))
    val best = scored.groupBy("vec_id")
      .agg(max(struct(col("ac").as("ac"), (-col("cid")).as("ncid"))).as("m"))
      .select(col("vec_id"), col("m.ac").as("c1"), (-col("m.ncid")).as("own"))
    val second = scored.join(best, Seq("vec_id"))
      .filter(col("cid") =!= col("own"))
      .groupBy("vec_id").agg(max("ac").as("c2"))
    val s = best.join(second, Seq("vec_id"))
      .select(col("vec_id"), col("own"), col("c1"), col("c2"),
        when(col("c2") < 1.0, stableRound6((col("c1") - col("c2")) /
          (lit(1.0) - col("c2")))).as("s6"))
    s.groupBy(col("own").as("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("s6").cast("decimal(18,6)")).cast("decimal(28,6)").as("ss"),
        sum(col("c1").cast("decimal(18,6)")).cast("decimal(28,6)").as("sc1"),
        sum(col("c2").cast("decimal(18,6)")).cast("decimal(28,6)").as("sc2"))
      .select(col("cid"), col("n_members"),
        stableRound6(col("sc1").cast("double") / col("n_members").cast("double"))
          .as("mean_own_cosine"),
        stableRound6(col("sc2").cast("double") / col("n_members").cast("double"))
          .as("mean_other_cosine"),
        stableRound6(col("ss").cast("double") / col("n_members").cast("double"))
          .as("silhouette"))
      .orderBy("cid")
  }

  /** x327 — KRIPPENDORFF'S ALPHA over the three binary raters (round-12):
    * for complete binary nominal data, α = 1 − (n−1)·Σ_u n_u0·n_u1/(m−1)
    * / (n₀·n₁) with n = 3N pairable ratings — the agreement coefficient
    * that generalizes across the family (κ variants are rater-pair or
    * chance-model specific; α is the one content-analysis methodology
    * standardizes on, and the only one defined when raters/units vary).
    *
    * Exactness: per-doc disagreement n₁(3−n₁)/2 is an exact integer
    * (n₁(3−n₁) ∈ {0, 2}); all products DECIMAL(38,0); ONE division,
    * round6; NULL when n₀·n₁ = 0 (unanimous corpus; mirrored).
    *
    * Scale shape: one corpus scan collapsing map-side to 3 totals.
    */
  def x327KrippendorffAlpha(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val d = raters(spark, sfDir)
      .select((col("r_len") + col("r_tok") + col("r_lang")).as("n1"))
      .select(col("n1"), (col("n1") * (lit(3L) - col("n1")) / 2)
        .cast("long").as("du"))
    val g = d.agg(count(lit(1)).as("n_docs"), sum("n1").as("p1"),
      sum("du").as("s"))
    val n = lit(3L) * col("n_docs")
    val n0 = n - col("p1")
    g.select(col("n_docs"), n.as("n_ratings"), col("p1").as("n_pass"),
      col("s").as("s_disagree"),
      when(dec(col("p1")) * dec(n0) > 0, stableRound6(lit(1.0) -
        ((dec(n) - 1) * dec(col("s"))).cast("double") /
          (dec(col("p1")) * dec(n0)).cast("double"))).as("alpha"))
  }

  /** x328 — GUMBEL TOP-k WEIGHTED SAMPLE (round-12): keys g = ln(w) −
    * ln(−ln(u)) with a deterministic md5-uniform u, top-20 — the
    * Gumbel-max construction of sampling WITHOUT replacement with
    * probability proportional to size (equivalent to Efraimidis–Spirakis
    * u^(1/w) keys): x317's priority sample optimizes sum ESTIMATION,
    * PPSWOR optimizes representative SELECTION — both faces of weighted
    * sampling a curation pipeline needs, now side by side.
    *
    * Exactness: u is the x317 dyadic rational under a 'g:' salt (so the
    * two samplers' draws are independent); the key is QUANTIZED to 6
    * digits BEFORE ranking (x323's slope rule — raw ln/exp may differ in
    * the last ulp between libm implementations, and an ordering must
    * never depend on an unpinned ulp), tie-broken by doc_id.
    *
    * Scale shape: per-row hash + two lns in the scan,
    * TakeOrderedAndProject(20).
    */
  def x328GumbelTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val base = Io.table(spark, sfDir, "documents")
      .filter(col("n_chars").isNotNull && col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("u",
        (expr("cast(conv(substring(md5(concat('g:', cast(doc_id as string))), 1, 13), 16, 10) as bigint)")
          + 1L).cast("double") / lit(4503599627370496.0))
      .withColumn("g6", stableRound6(log(col("w").cast("double")) -
        log(-log(col("u")))))
    base.orderBy(col("g6").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("g6").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("w"), col("g6").as("gumbel_key"))
      .orderBy("rank")
  }

  /** x329 — WINSORIZED + TRIMMED MEAN of doc length per source
    * (round-12): 10%-each-side trimming at EXACT per-source order
    * statistics — the robust-location pair beside x97's MAD fences: the
    * trimmed mean discards the tails, the winsorized mean clamps them to
    * the cut values (the estimator robust-statistics recommends when the
    * tails are suspect but the mass is wanted).
    *
    * The per-source ranks ride [[graft.operators.RangeRank]] (NINTH
    * declared consumer — and the first with a genuine multi-key domain):
    * a ranking window partitioned by ~20 sources serializes each
    * source's corpus-sized sort into one task (x220's documented
    * ceiling); RangeRank keeps rank parallelism decoupled from |keys|.
    *
    * Exactness: k = n div 10 is integer arithmetic on exact per-source
    * counts; cut values are exact order statistics (rank equality);
    * sums of exact longs; two divisions, round6.
    *
    * Scale shape: two-pass RangeRank + a |sources|-row boundary join
    * (broadcast) + one aggregate. No per-source single-task sort.
    */
  def x329WinsorizedMean(spark: SparkSession, sfDir: String): DataFrame = x329Pin.swapStaged {
    import ExtendedQueries.stableRound6
    val d = Io.table(spark, sfDir, "documents")
      .filter(col("n_chars").isNotNull && col("source").isNotNull)
      .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("x"))
    val ranking = graft.operators.RangeRank.rankWithinOwned(
      d, "source", Seq("x", "doc_id"), "r")
    val ranked = ranking.df
    val counts = d.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("k", expr("n div 10"))
    val withK = ranked.join(broadcast(counts), Seq("source"))
    val bounds = withK
      .filter(col("r") === col("k") + 1 || col("r") === col("n") - col("k"))
      .groupBy("source").agg(min("x").as("lo"), max("x").as("hi"))
    val out = withK.join(broadcast(bounds), Seq("source"))
      .groupBy("source")
      .agg(min("n").as("n_docs"), min("k").as("k_trim"),
        min("lo").as("lo_cut"), min("hi").as("hi_cut"),
        sum(when(col("r") > col("k") && col("r") <= col("n") - col("k"),
          col("x")).otherwise(0L)).as("trimSum"),
        sum(when(col("r") <= col("k"), col("lo"))
          .when(col("r") > col("n") - col("k"), col("hi"))
          .otherwise(col("x"))).as("winSum"))
      .select(col("source"), col("n_docs"), col("k_trim"), col("lo_cut"),
        col("hi_cut"),
        stableRound6(col("trimSum").cast("double") /
          (col("n_docs") - col("k_trim") * 2).cast("double"))
          .as("trimmed_mean"),
        stableRound6(col("winSum").cast("double") / col("n_docs").cast("double"))
          .as("winsorized_mean"))
      .orderBy("source")
    (out, () => ranking.release())
  }

  private val x329Pin = new graft.core.PinnedResult

  /** x330 — POISSON DISPERSION of daily event counts (round-12): the
    * index of dispersion D = Σ(c−c̄)²/c̄ = (n·Σc² − (Σc)²)/Σc (χ² with
    * n−1 df under a homogeneous Poisson) and the variance-to-mean ratio
    * — the first-line "is event arrival bursty at DAY granularity"
    * alarm (x268 measures token burstiness; x299's CV needs per-event
    * gaps; this one reads off three integers).
    *
    * Exactness: the whole statistic is ONE division of exact integers
    * (DECIMAL products), round6.
    *
    * Scale shape: map-side day collapse, 1-row finale.
    */
  def x330PoissonDispersion(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val day = Io.events(spark, sfDir)
      .filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("c"))
    day.agg(count(lit(1)).as("n_days"), sum("c").as("n_events"),
        sum(dec(col("c")) * dec(col("c"))).as("scc"))
      .select(col("n_days"), col("n_events"),
        stableRound6(col("n_events").cast("double") /
          col("n_days").cast("double")).as("mean_per_day"),
        stableRound6((dec(col("n_days")) * col("scc") -
          dec(col("n_events")) * dec(col("n_events"))).cast("double") /
          dec(col("n_events")).cast("double")).as("dispersion"),
        stableRound6((dec(col("n_days")) * col("scc") -
          dec(col("n_events")) * dec(col("n_events"))).cast("double") /
          dec(col("n_events")).cast("double") /
          (col("n_days") - 1).cast("double")).as("vmr"),
        (col("n_days") - 1).as("df"))
  }

  /** x331 — DAY-OF-WEEK SEASONALITY (round-12): event volume per weekday
    * (0 = Monday; epoch day 0 was a Thursday) and the χ² uniformity test
    * against E = N/7 — the calendar-structure test behind x203's heatmap
    * (which SHOWS the profile but scores nothing): a significant χ² says
    * crawl scheduling is confounded with weekday, which any
    * time-windowed sampling (x110/x264) should then stratify on.
    *
    * Exactness: each term is (7o − N)²/(7N) — exact-integer numerator
    * (DECIMAL), one division per weekday, round6 → DECIMAL sum; the
    * grid is ZERO-FILLED over all 7 weekdays (an event-free weekday
    * still owes its (0 − N/7)² term — omitting it understates χ² on
    * sparse data); the seven shares are single divisions.
    *
    * Scale shape: map-side collapse to the 7-row spine; 1-row cross.
    */
  def x331DowSeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val observed = Io.events(spark, sfDir)
      .filter(col("ts").isNotNull)
      .select(pmod(expr("unix_micros(ts) div 86400000000") + 3, lit(7))
        .as("dow"))
      .groupBy("dow").agg(count(lit(1)).as("o"))
    val cells = spark.range(7).select(col("id").as("dow"))
      .join(observed, Seq("dow"), "left")
      .select(col("dow"), coalesce(col("o"), lit(0L)).as("o"))
    val tot = cells.agg(sum("o").as("n"))
    val t6 = stableRound6(
      ((lit(7) * dec(col("o")) - dec(col("n"))) *
        (lit(7) * dec(col("o")) - dec(col("n")))).cast("double") /
      (lit(7.0) * col("n").cast("double"))).cast("decimal(18,6)")
    val withT = cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("o"), col("n"), t6.as("t6"))
    val chi = withT.agg(sum("t6").cast("decimal(28,6)").as("chi2d"))
    withT.crossJoin(broadcast(chi))
      .select(col("dow"), col("o").as("n_events"),
        stableRound6(col("o").cast("double") / col("n").cast("double"))
          .as("share"),
        col("chi2d").cast("double").as("chi2"), lit(6L).as("df"))
      .orderBy("dow")
  }

  /** x332 — JACCARD THRESHOLD SWEEP over the LSH candidates (round-12):
    * the histogram of exact candidate-pair Jaccard in 0.1 bins plus the
    * pairs-at-or-above cumulative — the dedup THRESHOLD calibration
    * curve: x20 reports pairs at one policy, x179 plots the s-curve of
    * the banding itself; this shows how many merges each τ would commit,
    * which is the number a curator tunes τ against.
    *
    * Exactness: bin = ⌊10·J⌋ as the integer comparison 10·|A∩B| vs
    * k·|A∪B| (no float bin edges — a J exactly on an edge lands
    * deterministically); the cumulative runs over the ≤11-row frame.
    *
    * Scale shape: inherits x62's banded-candidate machinery; histogram
    * collapse map-side; 11-row walk.
    */
  def x332JaccardSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val pairs = candJaccard(spark, sfDir)
    val hist = pairs
      .select(least(expr("(10 * n_common) div (n1 + n2 - n_common)"),
        lit(10L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val tot = hist.agg(sum("n_pairs").as("n"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    hist.crossJoin(broadcast(tot))
      .withColumn("pairs_at_or_above", sum("n_pairs").over(w))
      .select(col("bin"), stableRound6(col("bin").cast("double") / 10.0)
          .as("tau_lo"),
        col("n_pairs"), col("pairs_at_or_above"),
        stableRound6(col("n_pairs").cast("double") / col("n").cast("double"))
          .as("share"))
      .orderBy("bin")
  }

  /** The x62 LSH candidate pairs with exact shingle-set sizes and
    * intersections — shared by x332 (threshold sweep), x333 (k sweep) and
    * x340 (edit histogram). Identical VALUES to x62/x322's head; two
    * round-14 mechanics (verdict r13 #1):
    *
    *   - the 16-hash signature comes from the NATIVE one-pass
    *     `minhash_all` expression (x13b's recipe, byte-identical to the
    *     explode→16-min pipeline by MinhashAllSpec) computed in the SAME
    *     scan that builds the shingle-set arrays — the 50× shingle
    *     explosion and its signature shuffle are gone;
    *   - the result is a [[FixtureMemo]] on the documents
    *     fixture, because three declared queries each re-ran this whole
    *     build per invocation.
    *     The pinned frame is PROJECTED to the columns the consumers read
    *     (ids, set sizes, intersection, both signatures): the shingle-set
    *     arrays themselves never enter the pin, so the entry is
    *     candidate-bounded narrow rows, never corpus text.
    *
    * Callers must NOT repin or unpersist the returned frame.
    */
  private def candJaccard(spark: SparkSession, sfDir: String): DataFrame =
    candJac(spark, sfDir) {
    val fanned = fanOut(Io.table(spark, sfDir, "documents"))
    // Build-scoped staging pins: the native signature has NO exchange, so
    // without a pin each of the plan's branches (bands, both pair sides)
    // would recompute the 16-min md5 scan — the explode form this
    // replaces got that reuse for free from ReuseExchange on its shuffle.
    // sigN is (doc_id, 16 minima): corpus-linear NARROW rows. sub is the
    // candidate-member subset WITH its shingle arrays (needed once for
    // array_intersect, consumed by both pair sides). Both pins release
    // before return; only the projected `built` frame stays (memo-owned).
    val sigN = fanned
      .select(col("doc_id"), call_function("minhash_all", col("text"), lit(16)).as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id") +:
        (0 until 16).map(j => element_at(col("mh"), j + 1).as(s"mh$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = LlmQueries.bandHashes(sigN, bandsOf = 4, r = 4)
    val cand = bands
      .groupBy("band", "bh").agg(sort_array(collect_list("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(posexplode(col("ids")).as(Seq("i", "d1")), col("ids"))
      .select(col("d1"), explode(expr("slice(ids, i + 2, size(ids))")).as("d2"))
      .distinct()
    val candIds = cand.select(col("d1").as("id"))
      .union(cand.select(col("d2").as("id"))).distinct()
    val docSh = LlmQueries.shingleSetArray(fanned)
      .withColumn("n", size(col("shset")))
    val sub = docSh.join(sigN, "doc_id")
      .join(candIds, col("doc_id") === col("id"))
      .select(col("doc_id") +: col("shset") +: col("n") +:
        (0 until 16).map(j => col(s"mh$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(tag: String) = sub.select(
      col("doc_id").as(s"d$tag") +: col("shset").as(s"sh$tag") +:
        col("n").as(s"n$tag") +:
        (0 until 16).map(j => col(s"mh$j").as(s"mh${j}_$tag")): _*)
    val built = cand.join(side("1"), Seq("d1")).join(side("2"), Seq("d2"))
      .withColumn("n_common",
        size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .drop("sh1", "sh2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    built.count() // force under the builder; consumers ride the cache
    sigN.unpersist(false)
    sub.unpersist(false)
    built
    }

  private val candJac =
    new FixtureMemo[DataFrame]("candJaccard", "documents", _.unpersist())

  /** x333 — MINHASH k SWEEP (round-12): on the same candidates, the
    * estimator error of k = 4 / 8 / 16 signature prefixes — mean
    * absolute error and signed bias of est_k vs exact Jaccard — the
    * signature-LENGTH economics beside x322's bit-DEPTH economics: a
    * 100 TB signature table prices k directly in bytes, and this query
    * shows what each halving costs in estimator quality on real
    * candidate pairs.
    *
    * Exactness: per-pair errors are single float chains round6 →
    * DECIMAL means; est_k uses the FIRST k hashes (prefix, so the three
    * estimators share one signature computation).
    *
    * Scale shape: inherits the candidate-bounded frame; 3-row finale.
    */
  def x333MinhashKSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val pairs = candJaccard(spark, sfDir)
    val jac = col("n_common").cast("double") /
      (col("n1") + col("n2") - col("n_common")).cast("double")
    val rows = Seq(4, 8, 16).map { k =>
      val estK = (0 until k)
        .map(j => (col(s"mh${j}_1") === col(s"mh${j}_2")).cast("int"))
        .reduce(_ + _).cast("double") / lit(k.toDouble)
      pairs.select(lit(k.toLong).as("k"),
        stableRound6(abs(estK - jac)).cast("decimal(18,6)").as("ae6"),
        stableRound6(estK - jac).cast("decimal(18,6)").as("e6"))
    }.reduce(_ unionAll _)
    rows.groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        sum("ae6").cast("decimal(28,6)").as("sa"),
        sum("e6").cast("decimal(28,6)").as("se"))
      .select(col("k"), col("n_pairs"),
        stableRound6(col("sa").cast("double") / col("n_pairs").cast("double"))
          .as("mae"),
        stableRound6(col("se").cast("double") / col("n_pairs").cast("double"))
          .as("bias"))
      .orderBy("k")
  }

  /** x334 — HERFINDAHL–HIRSCHMAN CONCENTRATION of the source mix
    * (round-12): HHI = Σ share², effective source count 1/HHI, and the
    * CR4 top-4 share, on BOTH the document and token bases — the
    * one-number mix-governance summary behind x54/x108's full rebalance
    * machinery (an HHI drift is the cheap alarm that triggers them).
    *
    * Exactness: HHI = Σn_s²/N² from exact integers (DECIMAL products,
    * one division); CR4 = an exact top-4 sum over the |sources| frame
    * (count desc, source tie-break); per-basis single divisions, round6.
    *
    * Scale shape: one map-combining source aggregate per basis; the
    * top-4 cut and moments run on |sources| rows.
    */
  def x334HhiConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val d = Io.table(spark, sfDir, "documents")
      .filter(col("source").isNotNull && col("text").isNotNull)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
    def basis(name: String, mass: Column): DataFrame = {
      val per = d.groupBy("source").agg(sum(mass).as("m"))
      val rk = per.withColumn("rk",
        row_number().over(Window.orderBy(col("m").desc, col("source"))))
      rk.agg(sum("m").as("n"), count(lit(1)).as("n_sources"),
          sum(dec(col("m")) * dec(col("m"))).as("s2"),
          sum(when(col("rk") <= 4, col("m")).otherwise(0L)).as("top4"))
        .select(lit(name).as("basis"), col("n_sources"), col("n").as("total"),
          stableRound6(col("s2").cast("double") /
            (dec(col("n")) * dec(col("n"))).cast("double")).as("hhi"),
          stableRound6((dec(col("n")) * dec(col("n"))).cast("double") /
            col("s2").cast("double")).as("effective_sources"),
          stableRound6(col("top4").cast("double") / col("n").cast("double"))
            .as("cr4"))
    }
    basis("docs", lit(1L)).unionAll(basis("tokens", col("nt")))
      .orderBy("basis")
  }

  /** x335 — PORTABLE BLOOM FILTER with a MEASURED false-positive rate
    * (round-12): a from-scratch Bloom over the corpus text fingerprints
    * (m = 2¹⁵ bits, k = 3 md5-derived positions), probed with 1000
    * synthetic non-member keys, next to the analytic (1 − e^(−kn/m))^k —
    * the sketch whose FPR claim is usually taken on faith (x123/x184 use
    * Spark's built-in, opaque to the oracle; x295's HLL showed the
    * pattern: build the sketch from arithmetic BOTH engines can run, and
    * the oracle pins the sketch itself, not just its answer).
    *
    * Exactness: positions are exact integer arithmetic on md5 hex
    * prefixes (the x272 cast pattern); the bit set is a DISTINCT
    * position set; membership is an exact 3-way join count; the analytic
    * rate is one float chain, round6.
    *
    * Scale shape: fingerprints collapse map-side; the bit set is ≤2¹⁵
    * rows broadcast into the 3000-row probe join; 1-row finale.
    */
  def x335BloomFpr(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val m = 32768L
    val k = 3
    val fps = Io.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(md5(col("text")).as("fp")).distinct()
    def pos(key: Column, i: Int): Column =
      pmod(conv(substring(md5(concat(lit(s"$i:"), key)), 1, 8), 16, 10)
        .cast("long"), lit(m))
    val bits = fps.select(explode(array((0 until k).map(i =>
      pos(col("fp"), i)): _*)).as("p")).distinct()
    val nKeys = fps.agg(count(lit(1)).as("n_keys"))
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    val probes = spark.range(1000)
      .select(concat(lit("probe:"), col("id").cast("string")).as("key"),
        col("id"))
    val probePos = probes.select(col("id"), explode(array((0 until k).map(i =>
      pos(col("key"), i)): _*)).as("p"))
    val hits = probePos.join(bits, Seq("p"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === k)
      .agg(count(lit(1)).as("n_fp"))
    val theo = stableRound6(pow(lit(1.0) -
      exp(lit(-k.toDouble) * col("n_keys").cast("double") / lit(m.toDouble)),
      lit(k.toDouble)))
    nKeys.crossJoin(broadcast(nBits)).crossJoin(broadcast(hits))
      .select(col("n_keys"), lit(m).as("m_bits"), lit(k.toLong).as("k_hashes"),
        col("n_bits_set"), col("n_fp").as("n_false_positives"),
        stableRound6(col("n_fp").cast("double") / 1000.0).as("measured_fpr"),
        theo.as("theoretical_fpr"))
  }

  /** x336 — EMBEDDING CLIP BOUNDS per dimension (round-12): exact p1/p99
    * order statistics of each of the 64 component distributions and the
    * in-range coverage — the calibration step an INT8 quantizer (x127)
    * presupposes: clip bounds from approximate quantiles silently move
    * between runs; these are exact rank statistics, so the quantization
    * grid is reproducible.
    *
    * The per-dimension ranks ride [[graft.operators.RangeRank]] (TENTH
    * consumer, key = dimension): a window partitioned by 64 dims sorts
    * each dim's corpus-sized slice in ONE task; RangeRank decouples the
    * parallelism (the x329 argument at dimension cardinality).
    *
    * Exactness: component values round6 BEFORE ranking (float→double is
    * exact, the quantized orbit is the declared semantics; ties broken
    * by vec_id); cut ranks are integer arithmetic; coverage is exact
    * counting, one division.
    *
    * Scale shape: posexplode to (dim, value), two-pass RangeRank, a
    * 64-row boundary frame broadcast back, one aggregate.
    */
  def x336EmbeddingClipBounds(spark: SparkSession, sfDir: String): DataFrame = x336Pin.swapStaged {
    import ExtendedQueries.stableRound6
    val vals = Io.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        stableRound6(col("v").cast("double")).as("v6"))
    val ranking = graft.operators.RangeRank.rankWithinOwned(
      vals, "pos", Seq("v6", "vec_id"), "r")
    val counts = vals.groupBy("pos").agg(count(lit(1)).as("n"))
      .withColumn("rLo", greatest(lit(1L), expr("n div 100")))
      .withColumn("rHi", col("n") - expr("n div 100"))
    val withN = ranking.df.join(broadcast(counts), Seq("pos"))
    val bounds = withN
      .filter(col("r") === col("rLo") || col("r") === col("rHi"))
      .groupBy("pos").agg(min("v6").as("lo"), max("v6").as("hi"))
    val out = withN.join(broadcast(bounds), Seq("pos"))
      .groupBy("pos")
      .agg(min("n").as("n_values"), min("lo").as("p01"), max("hi").as("p99"),
        sum((col("v6") >= col("lo") && col("v6") <= col("hi")).cast("long"))
          .as("n_in_range"))
      .select(col("pos"), col("n_values"), col("p01"), col("p99"),
        stableRound6(col("n_in_range").cast("double") /
          col("n_values").cast("double")).as("clip_coverage"))
      .orderBy("pos")
    (out, () => ranking.release())
  }

  private val x336Pin = new graft.core.PinnedResult

  /** x337 — DECISION-STUMP split on document length for the language
    * label (round-12): the threshold v minimizing the weighted Gini
    * impurity of (n_chars ≤ v) vs (> v) against y = (lang = 'en') — a
    * one-feature CART split trained DISTRIBUTED: the candidate-threshold
    * sweep collapses to cumulative walks over the distinct-value grid
    * (x316's machinery), so the stump trains in one pass — the minimal
    * honest member of "train a model on the corpus" that is still
    * exactly oracle-pinnable, and the feature-screening primitive
    * (impurity drop = split usefulness) a quality-filter designer uses
    * before fitting anything bigger.
    *
    * Exactness: class counts and cumulative walks exact integers;
    * per-threshold weighted impurity is one float chain from exact
    * longs, round6; the argmin is the (impurity6 asc, v asc) total
    * order via TakeOrdered(1); degenerate right sides (v = max) are
    * excluded.
    *
    * Scale shape: one corpus scan to the value grid; windows over
    * value-cardinality frames; a 1-row winner cross.
    */
  def x337GiniStump(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val vals = Io.table(spark, sfDir, "documents")
      .filter(col("n_chars").isNotNull && col("lang").isNotNull)
      .select(col("n_chars").cast("long").as("v"),
        (col("lang") === "en").cast("long").as("y"))
      .groupBy("v").agg(count(lit(1)).as("c"), sum("y").as("p"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = vals.withColumn("nL", sum("c").over(w))
      .withColumn("pL", sum("p").over(w))
    val tot = vals.agg(sum("c").as("n"), sum("p").as("np"))
    def gini(pos: Column, n: Column): Column = {
      val p = pos.cast("double") / n.cast("double")
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    val scored = cum.crossJoin(broadcast(tot))
      .filter(col("nL") < col("n")) // v = max splits nothing off
      .select(col("v"), col("nL"), col("pL"), col("n"), col("np"),
        stableRound6((col("nL").cast("double") *
          gini(col("pL"), col("nL")) +
          (col("n") - col("nL")).cast("double") *
          gini(col("np") - col("pL"), col("n") - col("nL"))) /
          col("n").cast("double")).as("g6"))
    val best = scored.orderBy(col("g6").asc, col("v").asc).limit(1)
    best.select(col("n").as("n_docs"), col("np").as("n_pos"),
      stableRound6(gini(col("np"), col("n"))).as("base_gini"),
      col("v").as("best_threshold"), col("g6").as("split_gini"),
      col("nL").as("left_n"), col("pL").as("left_pos"))
  }

  /** x338 — SAMPLE-RATIO-MISMATCH check of the x104 split (round-12):
    * observed component counts per train/val/test vs the declared
    * 80/10/10 hash design, as a χ² with 2 df — the first test every
    * experimentation platform runs before trusting a split: a
    * significant SRM means the assignment hash is biased or the
    * population filtered asymmetrically, and every downstream eval
    * number is suspect. Rides the memoized x47 components (the split
    * unit is the COMPONENT — leakage-safe by construction).
    *
    * Exactness: each term is (10·o − w·n)²/(10·w·n) with w ∈ {8, 1, 1}
    * — exact-integer numerators (DECIMAL), one division per cell,
    * round6 → DECIMAL sum; the 3-split spine is ZERO-FILLED (a split
    * that received nothing still owes its full expectation term — the
    * x331 rule; that empty-split case is the WORST mismatch, not an
    * ignorable one).
    *
    * Scale shape: the component frame collapses map-side to 3 cells.
    */
  def x338SrmCheck(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val spark2 = spark
    import spark2.implicits._
    val observed = LlmQueries.x104SplitAssign(spark, sfDir)
      .select("component", "split").distinct()
      .groupBy("split").agg(count(lit(1)).as("o0"))
    val cells = Seq(("train", 8L), ("val", 1L), ("test", 1L))
      .toDF("split", "w")
      .join(observed, Seq("split"), "left")
      .select(col("split"), coalesce(col("o0"), lit(0L)).as("o"), col("w"))
    val tot = cells.agg(sum("o").as("n"))
    val t6 = stableRound6(
      ((lit(10) * dec(col("o")) - dec(col("w")) * dec(col("n"))) *
        (lit(10) * dec(col("o")) - dec(col("w")) * dec(col("n"))))
        .cast("double") /
      (lit(10.0) * col("w").cast("double") * col("n").cast("double")))
      .cast("decimal(18,6)")
    val withT = cells.crossJoin(broadcast(tot))
      .select(col("split"), col("o"), col("w"), col("n"), t6.as("t6"))
    val chi = withT.agg(sum("t6").cast("decimal(28,6)").as("chi2d"))
    withT.crossJoin(broadcast(chi))
      .select(col("split"), col("o").as("n_components"),
        stableRound6(col("o").cast("double") / col("n").cast("double"))
          .as("share"),
        stableRound6(col("w").cast("double") / 10.0).as("expected_share"),
        col("chi2d").cast("double").as("chi2"), lit(2L).as("df"))
      .orderBy("split")
  }

  /** x339 — CRAWL NOVELTY DECAY (round-12): walking the corpus in doc_id
    * (crawl) order split into 10 equal deciles, the share of documents
    * that are the FIRST instance of their content fingerprint — the
    * marginal-value-of-crawling curve: a decaying novelty rate is the
    * empirical basis of the data-constrained scaling decisions (x281)
    * and tells a crawler when a source is mined out (x287 prices dedup
    * AFTER the fact; this shows the decay AS the corpus grows).
    *
    * The crawl-order rank rides [[graft.operators.RangeRank]] (ELEVENTH
    * consumer, constant key — no one-task window over the corpus).
    *
    * Exactness: decile assignment is integer arithmetic on the exact
    * rank; "novel" is the exact min-doc_id-per-fingerprint equality;
    * one division per decile, round6.
    *
    * Scale shape: fingerprint collapse (x269's), the two-pass rank, a
    * broadcast first-seen join, a 10-row finale.
    */
  def x339NoveltyDecay(spark: SparkSession, sfDir: String): DataFrame = x339Pin.swapStaged {
    import ExtendedQueries.stableRound6
    val d = Io.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(
          split(col("text"), " "))), " ")).as("fp"))
      .withColumn("g", lit(1))
    val firstSeen = d.groupBy("fp").agg(min("doc_id").as("first_id"))
    val ranking = graft.operators.RangeRank.rankWithinOwned(
      d, "g", Seq("doc_id"), "r")
    val n = d.agg(count(lit(1)).as("n"))
    val out = ranking.df.join(firstSeen, Seq("fp"))
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("(10 * (r - 1)) div n + 1"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("doc_id") === col("first_id")).cast("long")).as("n_novel"))
      .select(col("decile"), col("n_docs"), col("n_novel"),
        stableRound6(col("n_novel").cast("double") / col("n_docs").cast("double"))
          .as("novelty_rate"))
      .orderBy("decile")
    (out, () => ranking.release())
  }

  private val x339Pin = new graft.core.PinnedResult

  /** x340 — EDIT-DISTANCE HISTOGRAM on the LSH candidates (round-12):
    * normalized Levenshtein over the banded candidate pairs in 0.1 bins
    * — the distance PROFILE behind x84's single 0.95 gate: where the
    * candidate mass actually sits decides whether the gate threshold is
    * on a cliff or in a desert, which is the robustness question a
    * one-number gate can't answer.
    *
    * Exactness: lev is the engines' shared classic edit distance (x84's
    * parity precedent); bin = the integer comparison (10·lev) div
    * max(len) capped at 10 — no float edges.
    *
    * Scale shape: candidate-bounded (x271's class — corpus scale runs
    * the audit on a sample, documented); histogram collapses map-side.
    */
  def x340EditHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val docs = Io.table(spark, sfDir, "documents")
    val pairs = candJaccard(spark, sfDir).select("d1", "d2")
      .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), Seq("d1"))
      .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), Seq("d2"))
      .select(levenshtein(col("t1"), col("t2")).cast("long").as("lev"),
        greatest(length(col("t1")), length(col("t2"))).cast("long").as("ml"))
    val hist = pairs
      .select(least(expr("(10 * lev) div ml"), lit(10L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val tot = hist.agg(sum("n_pairs").as("n"))
    hist.crossJoin(broadcast(tot))
      .select(col("bin"),
        stableRound6(col("bin").cast("double") / 10.0).as("dist_lo"),
        col("n_pairs"),
        stableRound6(col("n_pairs").cast("double") / col("n").cast("double"))
          .as("share"))
      .orderBy("bin")
  }

  /** x341 — PER-SOURCE BIGRAM KL from the corpus bigram LM (round-12):
    * KL(P_s ‖ Q) with add-one smoothing on both sides over the corpus
    * bigram vocabulary — style drift at SEQUENCE order: x215's unigram
    * JSD sees word choice, bigram KL sees phrasing (two sources can
    * share a vocabulary and still write differently), and it is the
    * quantity importance-sampling corpus tilts (x124) implicitly
    * assume small.
    *
    * Exactness: P = (c_sb + 1)/(N_s + V) and Q = (c_b + 1)/(N + V) are
    * exact rationals; each term round6(P·ln(P·den_Q/(Q·den_P · …))) is
    * computed as P·ln of the exact cross ratio (DECIMAL products, the
    * x267 rule), round6 → DECIMAL sum over the ZERO-FILLED source ×
    * corpus-bigram grid (absent bigrams still carry smoothed mass —
    * omitting them understates KL).
    *
    * Scale shape: two vocabulary-sized aggregates; the grid is
    * |sources| × |bigram vocab| (vocabulary-linear, the x304 spine at
    * bigram scale); map-combining collapse back to |sources|.
    */
  def x341BigramKl(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val big = fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), col("toks"), explode(expr(
        """CASE WHEN size(toks) < 2 THEN CAST(array() AS ARRAY<INT>)
          |ELSE sequence(1, size(toks) - 1) END""".stripMargin)).as("i"))
      .select(col("source"), concat_ws(" ",
        expr("element_at(toks, i)"), expr("element_at(toks, i + 1)"))
        .as("b"))
    val sb = big.groupBy("source", "b").agg(count(lit(1)).as("csb"))
    val cb = sb.groupBy("b").agg(sum("csb").as("cbb"))
    val ns = sb.groupBy("source").agg(sum("csb").as("nns"))
    val tot = cb.agg(sum("cbb").as("nn"), count(lit(1)).as("vv"))
    // zero-filled grid: every (source, corpus bigram) cell — the
    // |sources|-row side broadcasts into the vocabulary frame
    val spine = cb.select("b", "cbb")
      .crossJoin(broadcast(ns.select("source", "nns")))
      .join(sb, Seq("source", "b"), "left")
      .select(col("source"), col("nns"), col("b"), col("cbb"),
        coalesce(col("csb"), lit(0L)).as("csb"))
    val p = (dec(col("csb")) + 1)
    val q = (dec(col("cbb")) + 1)
    val t6 = stableRound6(
      ((col("csb") + 1).cast("double") / (col("nns") + col("vv")).cast("double")) *
      log((p * (dec(col("nn")) + dec(col("vv")))).cast("double") /
          (q * (dec(col("nns")) + dec(col("vv")))).cast("double")))
      .cast("decimal(18,6)")
    spine.crossJoin(broadcast(tot.select(col("nn"), col("vv"))))
      .select(col("source"), col("nns"), t6.as("t6"))
      .groupBy("source")
      .agg(min("nns").as("n_bigrams"),
        sum("t6").cast("decimal(28,6)").as("kl"))
      .select(col("source"), col("n_bigrams"),
        col("kl").cast("double").as("kl_nats"))
      .orderBy("source")
  }

  /** x342 — AUC OF THE STOPWORD-SHARE SCORER vs the language label
    * (round-12): the rank-sum (Mann–Whitney) AUC of score = stopword
    * share against y = (lang = 'en'), tie-averaged — THE
    * threshold-free meter for any per-doc scorer the filter bank
    * (x178/x213) ships: accuracy depends on a cutoff, AUC ranks the
    * scorer itself, and the rank-sum identity computes it exactly with
    * no pair enumeration.
    *
    * Exactness: scores are round6'd per doc then treated as exact rank
    * keys; DOUBLED tie-averaged ranks (x205's trick) keep every
    * quantity an exact integer — AUC = (Σ2R⁺ − nP(nP+1)) / (2·nP·nN),
    * ONE division (DECIMAL products), round6; NULL when a class is
    * empty (mirrored).
    *
    * Scale shape: per-row score in the scan; cumulative walks over the
    * score-value grid (value-cardinality, never docs); 1-row finale.
    */
  def x342AucRank(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val d = Io.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull && col("lang").isNotNull)
      .withColumn("toks", split(col("text"), " "))
      .select(stableRound6(
        size(expr("filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and'))"))
          .cast("double") / size(col("toks")).cast("double")).as("s"),
        (col("lang") === "en").cast("long").as("y"))
    val grid = d.groupBy("s").agg(count(lit(1)).as("c"), sum("y").as("cp"))
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("cumUpto", sum("c").over(w))
    // doubled tie-averaged rank of value s: 2R = 2*cumBelow + (c + 1)
    val r2 = (col("cumUpto") - col("c")) * 2 + col("c") + 1
    val agg = cum.select(col("cp"), r2.as("r2"))
      .agg(sum(dec(col("cp")) * dec(col("r2"))).as("sr2"))
    val tots = d.agg(sum("y").as("npos"),
      (count(lit(1)) - sum("y")).as("nneg"))
    agg.crossJoin(broadcast(tots))
      .select(col("npos").as("n_pos"), col("nneg").as("n_neg"),
        when(col("npos") > 0 && col("nneg") > 0, stableRound6(
          (col("sr2") - dec(col("npos")) * (dec(col("npos")) + 1))
            .cast("double") /
          (lit(2) * dec(col("npos")) * dec(col("nneg"))).cast("double")))
          .as("auc"))
  }

  /** x343 — SUCCESSOR BRANCHING ENTROPY for the 20 most frequent tokens
    * (round-12): H(next | w) = −Σ p·ln p over each token's successor
    * distribution — the classic word-boundary/segmentation signal
    * (Harris 1955; high branching after w = w ends a unit, low = w sits
    * mid-collocation): x267's PMI scores PAIRS, x219 the corpus rate;
    * branching entropy scores each ANCHOR token, which is what a
    * phrase-mining or tokenizer-merge pass actually consumes.
    *
    * Exactness: successor counts exact; each term is
    * round6((c/n)·ln(n/c)) — the ln of an exact-integer ratio — summed
    * as DECIMAL; anchor selection is the (count desc, token) total
    * order.
    *
    * Scale shape: one bigram-vocabulary aggregate gated by the broadcast
    * 20-row anchor set; per-anchor finale. Corpus scanned twice
    * (unigrams + bigrams), nothing corpus-sized shuffles.
    */
  def x343SuccessorEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val tok = fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("source"), split(col("text"), " ").as("toks"))
    val uni = tok.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val anchors = uni.orderBy(col("cw").desc, col("w")).limit(20)
      .select(col("w"), col("cw"))
    val succ = tok.select(col("toks"), explode(expr(
        """CASE WHEN size(toks) < 2 THEN CAST(array() AS ARRAY<INT>)
          |ELSE sequence(1, size(toks) - 1) END""".stripMargin)).as("i"))
      .select(expr("element_at(toks, i)").as("w"),
        expr("element_at(toks, i + 1)").as("nxt"))
      .join(broadcast(anchors.select("w")), Seq("w"))
      .groupBy("w", "nxt").agg(count(lit(1)).as("c"))
    val perAnchor = succ.groupBy("w").agg(sum("c").as("n"),
      count(lit(1)).as("n_successors"))
    succ.join(broadcast(perAnchor), Seq("w"))
      .select(col("w"), col("n"), col("n_successors"),
        stableRound6((col("c").cast("double") / col("n").cast("double")) *
          log(col("n").cast("double") / col("c").cast("double")))
          .cast("decimal(18,6)").as("t6"))
      .groupBy("w")
      .agg(min("n").as("n_continuations"), min("n_successors").as("n_successors"),
        sum("t6").cast("decimal(28,6)").as("h"))
      .join(broadcast(anchors), Seq("w"))
      .select(col("w").as("token"), col("cw").as("n_occurrences"),
        col("n_continuations"), col("n_successors"),
        col("h").cast("double").as("branching_entropy"))
      .orderBy("token")
  }

  /** x344 — RANK-BISERIAL dup ↔ length effect size (round-12):
    * r_rb = 2·AUC − 1 of document length against the exact-duplicate
    * flag (x269's fingerprint multiplicity > 1), via the same doubled
    * tie-averaged rank-sum identity as x342 — the EFFECT-SIZE companion
    * to x216's point-biserial correlation and x275's quartile table:
    * "dups are longer/shorter, and by how much on the ordinal scale",
    * robust to the heavy length tail that distorts a Pearson r.
    *
    * Exactness: the dup flag is exact collapse arithmetic; doubled
    * ranks keep every quantity integral; ONE division (DECIMAL
    * products), round6; NULL when a class is empty (mirrored).
    *
    * Scale shape: fingerprint collapse + value-grid cumulative walks —
    * no pair enumeration, nothing corpus-sized shuffles twice.
    */
  def x344RankBiserial(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    import org.apache.spark.sql.expressions.Window
    val d0 = Io.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("doc_id"), col("n_chars").cast("long").as("v"),
        md5(array_join(array_sort(array_distinct(
          split(col("text"), " "))), " ")).as("fp"))
    val mult = d0.groupBy("fp").agg(count(lit(1)).as("m"))
    val d = d0.join(mult, Seq("fp"))
      .select(col("v"), (col("m") > 1).cast("long").as("y"))
    val grid = d.groupBy("v").agg(count(lit(1)).as("c"), sum("y").as("cp"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("cumUpto", sum("c").over(w))
    val r2 = (col("cumUpto") - col("c")) * 2 + col("c") + 1
    val agg = cum.select(col("cp"), r2.as("r2"))
      .agg(sum(dec(col("cp")) * dec(col("r2"))).as("sr2"))
    val tots = d.agg(sum("y").as("npos"), (count(lit(1)) - sum("y")).as("nneg"))
    agg.crossJoin(broadcast(tots))
      .select(col("npos").as("n_dup"), col("nneg").as("n_unique"),
        when(col("npos") > 0 && col("nneg") > 0, stableRound6(
          (col("sr2") - dec(col("npos")) * (dec(col("npos")) + 1))
            .cast("double") /
          (lit(2) * dec(col("npos")) * dec(col("nneg"))).cast("double")))
          .as("auc"),
        when(col("npos") > 0 && col("nneg") > 0, stableRound6(
          (col("sr2") - dec(col("npos")) * (dec(col("npos")) + 1))
            .cast("double") /
          (dec(col("npos")) * dec(col("nneg"))).cast("double") - 1.0))
          .as("rank_biserial"))
  }

  /** x345 — CHARACTER ENTROPY per source (round-12): Shannon entropy of
    * each source's character distribution (spaces excluded) plus the
    * alphabet size — the byte-level style/encoding fingerprint under
    * x101's token entropy: two sources with identical token stats can
    * still differ at character level (transliteration, digit density,
    * markup residue), and char entropy is the standard quick screen for
    * encoding corruption before any tokenizer sees the bytes.
    *
    * Exactness: character counts exact; each term round6((c/n)·ln(n/c))
    * (exact-integer ratio), DECIMAL sum.
    *
    * Scale shape: one char explode collapsing map-side to the
    * (source, char) alphabet grid; |sources|-row finale.
    */
  def x345CharEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val cells = fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("source"), explode(split(regexp_replace(col("text"), " ", ""),
        "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("source", "ch").agg(count(lit(1)).as("c"))
    val per = cells.groupBy("source").agg(sum("c").as("n"))
    cells.join(broadcast(per), Seq("source"))
      .select(col("source"), col("n"),
        stableRound6((col("c").cast("double") / col("n").cast("double")) *
          log(col("n").cast("double") / col("c").cast("double")))
          .cast("decimal(18,6)").as("t6"))
      .groupBy("source")
      .agg(min("n").as("n_chars"), count(lit(1)).as("alphabet_size"),
        sum("t6").cast("decimal(28,6)").as("h"))
      .select(col("source"), col("n_chars"), col("alphabet_size"),
        col("h").cast("double").as("char_entropy"))
      .orderBy("source")
  }

  /** x346 — FRONT-CODING DICTIONARY SAVINGS of the corpus vocabulary
    * (round-12): with the vocabulary in lexicographic order, the bytes a
    * front-coded (shared-prefix) dictionary saves vs storing every token
    * whole — Σ common-prefix(wᵢ, wᵢ₋₁) over adjacent sorted tokens — the
    * standard dictionary layout of search indexes and tokenizer vocab
    * files (x79 builds the index; this prices its dictionary block).
    *
    * The lexicographic rank rides [[graft.operators.RangeRank]]
    * (TWELFTH consumer, constant key): sorting the vocabulary in one
    * window is a one-task sort at corpus scale; the adjacency then
    * reconstructs as a rank → rank+1 equi-join.
    *
    * Exactness: the common-prefix length is COUNTED as |{i :
    * prefix_i(w) = prefix_i(prev)}| — prefix equality is monotone in i,
    * so the count IS the common-prefix length (a filter-count, not a
    * fold: DuckDB 1.0's list_reduce mis-binds correlated row columns
    * inside the lambda — observed returning 1 for disjoint-initial
    * pairs — while list_filter correlation is sound and already
    * oracle-proven by x279/x321); totals exact longs; one division,
    * round6.
    *
    * Scale shape: vocabulary-sized throughout — one token aggregate,
    * the two-pass rank, one self equi-join on rank, a 1-row finale.
    */
  def x346FrontCoding(spark: SparkSession, sfDir: String): DataFrame = x346Pin.swapStaged {
    import ExtendedQueries.stableRound6
    val vocab = fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .distinct()
      .withColumn("g", lit(1))
    val ranking = graft.operators.RangeRank.rankWithinOwned(
      vocab, "g", Seq("w"), "r")
    val ranked = ranking.df.select("w", "r")
    val adj = ranked.as("a").join(ranked.as("b"),
        col("a.r") === col("b.r") + 1)
      .select(col("a.w").as("w"), col("b.w").as("prev"))
      .withColumn("cp", expr(
        """size(filter(sequence(1, least(length(w), length(prev))),
          |i -> substring(w, 1, i) = substring(prev, 1, i)))""".stripMargin)
        .cast("long"))
    val out = adj.agg(count(lit(1)).as("n_adjacent"),
        sum(length(col("w")).cast("long")).as("adj_bytes"),
        sum("cp").as("saved_bytes"))
      .crossJoin(broadcast(vocab.agg(count(lit(1)).as("n_types"),
        sum(length(col("w")).cast("long")).as("total_bytes"))))
      .select(col("n_types"), col("total_bytes"), col("saved_bytes"),
        (col("total_bytes") - col("saved_bytes")).as("coded_bytes"),
        stableRound6(col("saved_bytes").cast("double") /
          col("total_bytes").cast("double")).as("savings_ratio"))
    (out, () => ranking.release())
  }

  private val x346Pin = new graft.core.PinnedResult

  /** x347 — BURROWS' DELTA between source pairs (round-12): over the 50
    * highest-frequency corpus words, z-score each source's relative
    * frequency against the across-source distribution, and report
    * Δ(a,b) = mean |z_a − z_b| — THE stylometric distance of authorship
    * attribution (Burrows 2002): function-word usage normalized per
    * word, so no single common word dominates — the style companion to
    * x304's χ² (which tests deviation from the corpus, not pairwise
    * distance) and x341's KL (which weights by mass, not by word).
    *
    * Exactness: relative frequencies round6 on the zero-filled grid
    * (x304's spine); per-word mean/sd from exact DECIMAL moments of the
    * round6 values; z round6 (0 when a word's sd quantizes to 0 —
    * uniform words carry no style signal; mirrored); Δ = a DECIMAL sum
    * of |Δz| over the 50-word frame, one division.
    *
    * Scale shape: one (source, word) aggregate gated by the broadcast
    * 50-word list; everything after runs on |sources|×50 rows.
    */
  def x347BurrowsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val tok = fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    // ONE corpus explode (r16, guide §2.4): top/ns/cnt were three
    // NON-identical aggregates over `tok` (keyed w, source, (source, w)) —
    // no shared exchange, so the explode executed three times. Collapsing
    // the instance stream to (source, w) counts first makes all three
    // DERIVE from one frame whose aggregate exchange is identical across
    // the references, which AQE exchange reuse executes once; the
    // downstream aggregates are vocabulary-sized. Counts are exact long
    // sums of exact counts, so top-50 ranking, per-source totals, and the
    // gated grid are value-identical to the instance-stream forms.
    val sw = tok.groupBy("source", "w").agg(count(lit(1)).as("csw"))
    val top = sw.groupBy("w").agg(sum("csw").as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(50).select("w")
    val ns = sw.groupBy("source").agg(sum("csw").as("n"))
    val cnt = sw.join(broadcast(top), Seq("w"))
      .select(col("source"), col("w"), col("csw").as("c"))
    val grid = ns.crossJoin(broadcast(top))
      .join(cnt, Seq("source", "w"), "left")
      .select(col("source"), col("w"),
        stableRound6(coalesce(col("c"), lit(0L)).cast("double") /
          col("n").cast("double")).cast("decimal(18,6)").as("f6"))
    val mom = grid.groupBy("w")
      .agg(count(lit(1)).as("s"),
        sum("f6").cast("decimal(28,6)").as("sf"),
        sum((col("f6") * col("f6")).cast("decimal(38,12)")).as("sff"))
      .select(col("w"), col("s"),
        stableRound6(col("sf").cast("double") / col("s").cast("double"))
          .as("mu6"),
        stableRound6(sqrt(greatest(lit(0.0),
          col("sff").cast("double") / col("s").cast("double") -
          (col("sf").cast("double") / col("s").cast("double")) *
          (col("sf").cast("double") / col("s").cast("double")))))
          .as("sd6"))
    val z = grid.join(broadcast(mom), Seq("w"))
      .select(col("source"), col("w"),
        when(col("sd6") > 0, stableRound6(
          (col("f6").cast("double") - col("mu6")) / col("sd6")))
          .otherwise(lit(0.0)).cast("decimal(18,6)").as("z6"))
    z.as("a").join(z.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_words"),
        sum(abs((col("a.z6") - col("b.z6")).cast("decimal(18,6)")))
          .cast("decimal(28,6)").as("sd"))
      .select(col("source_a"), col("source_b"), col("n_words"),
        stableRound6(col("sd").cast("double") / col("n_words").cast("double"))
          .as("burrows_delta"))
      .orderBy("source_a", "source_b")
  }

  /** x318 — CHAO1 UNSEEN-VOCABULARY estimate per source (round-12): the
    * nonparametric species-richness floor V̂ = V + V₁²/(2V₂) (Chao 1984;
    * the bias-corrected V + V₁(V₁−1)/2 form when V₂ = 0) — the "how much
    * vocabulary does this source have that we have NOT crawled yet"
    * number: x251 fits growth on what was seen, x274 reallocates mass to
    * the unseen, Chao1 bounds the unseen TYPE count itself, which is what
    * a tokenizer-vocabulary budget (x303/x305) actually needs.
    *
    * Exactness: V/V₁/V₂ exact longs off the shared frequency frame;
    * V₁² in DECIMAL; one division (or the exact V₂=0 fallback, integer
    * halved as a division by 2.0), round6.
    *
    * Scale shape: x306's — vocabulary aggregate + |sources| finale.
    */
  def x318Chao1(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    sourceTokenCounts(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum((col("c") === 1).cast("long")).as("v1"),
        sum((col("c") === 2).cast("long")).as("v2"))
      .select(col("source"), col("n_types"), col("v1"), col("v2"),
        when(col("v2") > 0, stableRound6(col("n_types").cast("double") +
          (dec(col("v1")) * dec(col("v1"))).cast("double") /
            (col("v2").cast("double") * 2.0)))
          .otherwise(stableRound6(col("n_types").cast("double") +
            (dec(col("v1")) * (dec(col("v1")) - 1)).cast("double") / 2.0))
          .as("chao1"))
      .orderBy("source")
  }
}
