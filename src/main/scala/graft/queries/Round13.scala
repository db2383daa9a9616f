package graft.queries

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 additions (registered in SparkEntry, oracled in Oracles).
  * Opens with the exact-substring dedup gap closure (verdict r12 #7):
  * x348 is the corpus-level duplicated-substring COVERAGE measure of
  * Lee et al. 2022's ExactSubstr dedup — the removal-side complement to
  * x131's per-pair span detection. Same conventions as Round11/Round12
  * (fanOut, stableRound6 at every float edge, exact integer counting,
  * md5 portability, map-combining aggregates).
  */
object Round13Queries {
  import LlmQueries.fanOut

  /** x348 — EXACT duplicated-SUBSTRING token coverage (round-13; the
    * removal measure of Lee et al. 2022's ExactSubstr dedup): per
    * document, how many token positions sit inside a substring of
    * ≥ L = 8 tokens that occurs AT LEAST TWICE in the corpus — at any
    * offset, in any document, including elsewhere in the SAME document
    * (the two cases x131's pair-span view cannot see: within-doc repeats,
    * and the union-coverage you need to actually CUT the spans).
    *
    * Equivalence argument (why L-windows are not an approximation): a
    * token is covered by some duplicated substring of length ≥ L iff it
    * is covered by some duplicated L-WINDOW — (⊇) every duplicated
    * substring of length ≥ L contains a duplicated L-window over each of
    * its tokens (take any L-window of the substring containing the
    * token; it repeats wherever the substring does); (⊆) a duplicated
    * L-window IS a duplicated substring of length L. So the union of
    * [p, p+L−1] over positions p whose L-window content-count ≥ 2 IS the
    * exact ExactSubstr cut set, no suffix array needed — relationally:
    * one window count + a per-doc interval merge.
    *
    * Exactness: all counts exact integers; windows keyed by md5 of the
    * space-joined tokens (the x10 fixed-width-shuffle-key convention);
    * islands merge marked positions with gap ≤ L−1 (touching-but-disjoint
    * intervals stay separate islands — same rule in the oracle); one
    * division per doc, round6.
    *
    * Scale shape: windows explode corpus-linearly in the scan stage
    * (x131's per-row generate), collapse into ONE map-combining content
    * count (8-gram-vocabulary sized), re-join positions by content hash
    * (marked volume = duplicated-window positions, duplicate-density-
    * bounded), and the island window partitions by doc_id — corpus-
    * cardinality keys, linear. At 100 TB the count and re-join shuffle on
    * the content hash (uniform by construction); no all-pairs frame ever
    * exists, which is exactly why this form scales where a suffix array
    * needs its own distributed sort infrastructure.
    */
  def x348ExactSubstrCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val L = 8
    val toked = fanOut(Io.table(spark, sfDir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val nTok = toked.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"))
    val wins = toked
      .filter(size(col("toks")) >= L)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (L - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(expr(s"array_join(slice(toks, pos, $L), ' ')")).as("w8"))
    val dup = wins.groupBy("w8").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("w8")
    val marked = wins.join(dup, "w8").select("doc_id", "pos")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val islandRows = marked
      .withColumn("prev", lag("pos", 1).over(wOrd))
      .withColumn("new_island",
        (col("prev").isNull || col("pos") - col("prev") > L - 1).cast("long"))
      .withColumn("island", sum("new_island").over(
        wOrd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), max("pos").as("e"), count(lit(1)).as("n_marked"))
      .select(col("doc_id"), lit(0L).as("n_tokens"), lit(1L).as("isl"),
        col("n_marked"), (col("e") - col("s") + L).as("covered"))
    // ONE union+aggregate finale instead of nTok LEFT JOIN islands: a
    // left join against a unique-key aggregate is provably
    // cardinality-preserving, so a bare count() consumer lets Catalyst
    // PRUNE the whole window/island subtree — the probe read an
    // impossible flat 0.31 s at 1× AND 100× before this restructure. An
    // aggregate over the union cannot be pruned by any consumer, so
    // bench/probe counts now measure the real work; values unchanged.
    val baseRows = nTok.select(col("doc_id"), col("n_tokens"),
      lit(0L).as("isl"), lit(0L).as("n_marked"), lit(0L).as("covered"))
    baseRows.unionByName(islandRows)
      .groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        sum("isl").as("n_islands"),
        sum("n_marked").as("n_dup_windows"),
        sum("covered").as("covered_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_windows"),
        col("n_islands"), col("covered_tokens"),
        stableRound6(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double")).as("coverage_frac"))
      .orderBy("doc_id")
  }

  /** x349 — BRADLEY–TERRY preference strengths (round-13; Bradley & Terry
    * 1952 via the MM algorithm, Hunter 2004): the estimator under every
    * RLHF/preference-data pipeline — given pairwise "A beat B" counts,
    * the strength vector p with P(A beats B) = p_A/(p_A+p_B). Items are
    * the five event types; user u prefers type a over type b iff u's
    * exact value-micro total for a exceeds b's (ties → no comparison) —
    * a deterministic preference corpus derived from the fixture, the
    * aggregation shape of real preference data (comparisons collapse to
    * a |items|² win matrix; the corpus-sized part is ONE grouped sum).
    *
    * Exactness: the win matrix is exact integer counting on exact micro
    * totals; 3 MM iterations from p⁰ = 1 with p round6'd after every
    * iteration and each denominator term N_ij/(p_i+p_j) round6'd before
    * an exact DECIMAL sum (order-independent) — the oracle unrolls the
    * identical 3 iterations in SQL; final share is one division, round6.
    *
    * Scale shape: one map-combining (user, type) aggregate; the pairing
    * self-join runs on per-user 5-row groups (types², never users²);
    * the MM loop runs on the |items|²-sized matrix — metadata-sized, so
    * it rides the driver like x302's power iterations, bounded by
    * construction.
    */
  def x349BradleyTerry(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val totals = Io.events(spark, sfDir)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull)
      .groupBy("user_id", "event_type")
      .agg(sum(floor(col("value") * 1000000 + 0.5).cast("long")).as("v"))
    val wins = totals.as("a").join(totals.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") =!= col("b.event_type") &&
          col("a.v") > col("b.v"))
      .groupBy(col("a.event_type").as("wi"), col("b.event_type").as("lo"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val items = wins.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted.toSeq
    val nMat = wins.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def n(i: String, j: String): Long = nMat.getOrElse((i, j), 0L)
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val w = items.map(i => i -> items.filterNot(_ == i).map(j => n(i, j)).sum).toMap
    var p = items.map(_ -> 1.0).toMap
    (1 to 3).foreach { _ =>
      p = items.map { i =>
        // Σ_j round6(N_ij/(p_i+p_j)) as an exact decimal sum (6 dp), so
        // term order cannot move the value in either engine
        val den = items.filterNot(_ == i).map { j =>
          val nij = n(i, j) + n(j, i)
          BigDecimal(r6(if (p(i) + p(j) > 0) nij / (p(i) + p(j)) else 0.0))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        i -> (if (den > 0) r6(w(i) / den.toDouble) else 0.0)
      }.toMap
    }
    // exact decimal total of the round6 strengths (never a double fold)
    val tot = items.map(i => BigDecimal(r6(p(i)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
    import spark.implicits._
    items.map { i =>
      (i, w(i), items.filterNot(_ == i).map(j => n(j, i)).sum, r6(p(i)),
        if (tot > 0) r6(p(i) / tot.toDouble) else 0.0)
    }.toDF("event_type", "n_wins", "n_losses", "strength", "share")
      .orderBy("event_type")
  }

  /** x350 — KRIPPENDORFF'S ALPHA inter-annotator agreement (round-13;
    * Krippendorff 1970, nominal data, complete 3-rater design): α = 1 −
    * D_o/D_e over the pairwise coincidence matrix — the agreement
    * coefficient annotation shops report when raters/units vary, beside
    * x266's Cohen (2 raters) and x286's Fleiss (rule banks): α is the
    * DISAGREEMENT-based member, and for nominal complete data it reduces
    * to exact integer arithmetic, which is why it (and not another
    * Fleiss) is the round-13 addition. Raters are synthesized
    * deterministically: base label = doc-length tercile (a REAL signal),
    * rater r dissents where md5(doc|r)'s first byte ≡ 0 mod 4,
    * relabeling with a hash category — high-but-imperfect agreement,
    * the regime agreement coefficients exist for.
    *
    * Exactness: with r_u = 3 raters per unit, 2·D_o = Σ_u (6 −
    * Σ_c n_uc(n_uc−1)) is an exact LONG; the expected-disagreement
    * numerator E = n² − Σ_c n_c² is exact (n = 3N total ratings, n_c the
    * raw category counts — the coincidence marginals for complete data);
    * α = 1 − D_o2·(n−1)/(2E) is ONE division, round6. No float enters
    * before the edge.
    *
    * Scale shape: one corpus scan explodes 3 rater labels per doc (pure
    * projection), one map-combining (doc, cat) count, one doc-level
    * reduce + one category reduce, a 1-row finale. Linear, no joins.
    */
  def x350KrippendorffAlpha(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val R = 3
    val docs = Io.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        when(col("n_chars") < 300, 0).when(col("n_chars") < 600, 1)
          .otherwise(2).as("base"))
    val labels = docs
      .select(col("doc_id"), col("base"),
        explode(sequence(lit(0), lit(R - 1))).as("r"))
      .withColumn("h", expr(
        "conv(substring(md5(concat(cast(doc_id as string), '|', cast(r as string))), 1, 2), 16, 10)").cast("long"))
      .select(col("doc_id"),
        when(col("h") % 4 === 0, expr("(h div 4) % 3"))
          .otherwise(col("base").cast("long")).as("cat"))
    val nij = labels.groupBy("doc_id", "cat").agg(count(lit(1)).as("nij"))
    val doSum = nij.groupBy("doc_id")
      .agg((lit(R.toLong * (R - 1)) -
        sum(col("nij") * (col("nij") - 1))).as("do2u"))
      .agg(count(lit(1)).as("n_docs"), sum("do2u").as("do2"))
    // DECIMAL casts before every big product (the x304 rule): n = 3N and
    // n_c are corpus-scale longs, so n², n_c² and do2·(n−1) all wrap int64
    def dec38(c: Column): Column = c.cast("decimal(38,0)")
    val marg = nij.groupBy("cat").agg(sum("nij").as("nc"))
      .agg(sum("nc").as("n"),
        sum(dec38(col("nc")) * dec38(col("nc"))).as("sum_nc2"))
    doSum.crossJoin(broadcast(marg))
      .select(col("n_docs"), col("n").as("n_ratings"),
        stableRound6(col("do2").cast("double") / 2.0).as("d_o"),
        when(dec38(col("n")) * dec38(col("n")) - col("sum_nc2") > 0, stableRound6(
          lit(1.0) - (dec38(col("do2")) * (dec38(col("n")) - 1)).cast("double") /
            ((dec38(col("n")) * dec38(col("n")) - col("sum_nc2")).cast("double")
              * 2.0)))
          .as("alpha"))
  }

  /** x351 — INT8 SYMMETRIC QUANTIZATION audit of the embedding corpus
    * (round-13): per vector, scale = round6(max|x|/127), q_d =
    * clamp(⌊x_d/scale + 0.5⌋, −127, 127) — the serving-side compression
    * every production ANN index applies (4× memory, SIMD int8 dot
    * products), audited by EXACT integer checksums per label group: Σ|q|
    * and Σq pin the quantizer bit-for-bit (a rounding-mode or clamping
    * drift moves an integer), n_clipped counts saturated lanes, and
    * mean_scale prices the dynamic range. Integer checksums instead of
    * float reconstruction error BY DESIGN: the x50 rule — no
    * order-dependent float folds cross the oracle boundary.
    *
    * Exactness: x is the parquet float widened to double identically in
    * both engines; scale is one division round6'd; q is floor(x/scale +
    * 0.5) — integer in ℤ, clamped; every reported number is an exact
    * integer sum or ONE division round6'd.
    *
    * Scale shape: pure per-row projection over the unnested vectors plus
    * one map-combining label aggregate — scan-shaped at any corpus size.
    */
  def x351Int8Quant(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val vecs = Io.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("maxabs", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("scale", stableRound6(col("maxabs") / lit(127.0)))
    val q = vecs
      .select(col("vec_id"), col("label"), col("scale"),
        explode(col("v")).as("x"))
      .withColumn("q0", when(col("scale") > 0,
        floor(col("x") / col("scale") + 0.5).cast("long")).otherwise(0L))
      .withColumn("q", greatest(lit(-127L), least(lit(127L), col("q0"))))
    q.groupBy("label")
      .agg(countDistinct("vec_id").as("n_vecs"),
        sum(abs(col("q"))).as("sum_abs_q"),
        sum(col("q")).as("sum_q"),
        sum((col("q0") =!= col("q")).cast("long")).as("n_clipped"),
        // scale appears once per exploded lane (64×/vector): exact decimal
        // sum ÷ (rows) — one division, engine-order-free
        sum(col("scale").cast("decimal(28,6)")).as("sum_scale_x64"),
        count(lit(1)).as("n_lanes"))
      .select(col("label"), col("n_vecs"), col("sum_abs_q"), col("sum_q"),
        col("n_clipped"),
        ExtendedQueries.stableRound6(col("sum_scale_x64").cast("double") /
          col("n_lanes").cast("double")).as("mean_scale"))
      .orderBy("label")
  }

  /** x352 — HOPKINS CLUSTERABILITY statistic of the embedding corpus
    * (round-13; Hopkins & Skellam 1954): H = Σu/(Σu+Σw), where u are
    * nearest-neighbor distances from SYNTHETIC uniform probes (hash-
    * derived coordinates inside the corpus's per-dimension bounding box)
    * and w from a deterministic sample of REAL points (self excluded) —
    * H ≈ 0.5 says "no cluster structure", H → 1 says clustered. The
    * PRECONDITION test of the clustering family: x52 trains codebooks,
    * x326/x298 grade clusters, x59 dedups within them — Hopkins says
    * whether clustering the corpus means anything at all.
    *
    * Exactness: per-dimension bounds round6'd; uniform coordinates from
    * the md5-13-hex-digit construction (the x317/x328 dyadic pattern),
    * round6'd; every squared distance is Σ_d round6((a_d−b_d)²) summed
    * as exact DECIMAL — order-free, so min and the final sums are exact;
    * ONE division at the edge, round6.
    *
    * Scale shape: the probe set (2m rows, m = |corpus|/31-ish sample) is
    * BROADCAST into one corpus×dim scan — cost m·N·D with m a constant;
    * the (probe, vec) distance aggregate is map-combining. At corpus
    * scale m stays fixed and the scan is the whole bill — the same
    * broadcast-probe shape as x11's brute-force scorer.
    */
  def x352Hopkins(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val emb = Io.table(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val corpusLong = emb.select(col("vec_id"),
      posexplode(col("v")).as(Seq("d", "x")))
    val bounds = corpusLong.groupBy("d")
      .agg(stableRound6(min("x")).as("lo"), stableRound6(max("x")).as("hi"))
    // the sample is CAPPED (id % 31 under 1000 → ≤ 33 probes at any SF):
    // Hopkins needs a constant-size probe set, not a corpus-proportional
    // one — the uncapped % 31 form cost 11 s at sf0.1 (161+161 probes
    // through a d-keyed long join); capped probes + the codegen'd
    // micro_l2 array scan run the same semantics in well under a second
    val sampIds = emb.filter(col("vec_id") % 31 === 0 && col("vec_id") < 1000)
    val nProbes = sampIds.count()
    val synth = spark.range(nProbes).select(col("id").as("pid"))
      .crossJoin(broadcast(bounds))
      .withColumn("u", expr(
        """(conv(substring(md5(concat('hop|', cast(pid as string), '|',
          |  cast(d as string))), 1, 13), 16, 10) + 0.5) / 4503599627370496.0"""
          .stripMargin).cast("double"))
      .select(col("pid"), col("d"),
        stableRound6(col("lo") + col("u") * (col("hi") - col("lo"))).as("a"))
      .groupBy("pid")
      .agg(expr("transform(array_sort(collect_list(struct(d, a))), s -> s.a)")
        .as("pv"))
      .select(lit("synth").as("kind"), col("pid"), col("pv"))
    val real = sampIds.select(lit("real").as("kind"),
      col("vec_id").as("pid"), col("v").as("pv"))
    val probes = synth.unionByName(real)
    val d2 = emb.crossJoin(broadcast(probes))
      .filter(!(col("kind") === "real" && col("pid") === col("vec_id")))
      .select(col("kind"), col("pid"), col("vec_id"),
        call_function("micro_l2", col("pv"), col("v")).as("d2"))
    val nn = d2.groupBy("kind", "pid").agg(min("d2").as("nn"))
    val sums = nn.groupBy("kind")
      .agg(sum("nn").as("s"), count(lit(1)).as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val u = sums.get("synth").map(_._1).getOrElse(0L)
    val w = sums.get("real").map(_._1).getOrElse(0L)
    val m = sums.get("synth").map(_._2).getOrElse(0L)
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    import spark.implicits._
    Seq((m, r6(u.toDouble / 1e6), r6(w.toDouble / 1e6),
      if (u + w > 0) r6(u.toDouble / (u + w).toDouble) else 0.5))
      .toDF("m", "sum_u", "sum_w", "hopkins")
  }

  /** x353 — RENDEZVOUS (HRW) SHARD ROUTING balance + stability audit
    * (round-13; Thaler & Ravishankar 1998): shard(doc) = argmax_s
    * md5(doc_id|s) over S = 32 shards — THE stateless assignment for
    * shard-stable routing at cluster scale, beside x300's consistent-hash
    * RING (HRW needs no ring state and gets provably uniform balance).
    * Reported per shard: HRW load, the mod-32 baseline load, and —
    * the property that justifies HRW's existence — how many of the
    * shard's docs MOVE when a 33rd shard joins (expected ≈ N/33 moved
    * GLOBALLY; mod hashing moves ≈ N·32/33).
    *
    * Exactness: pure md5-hex string comparison (argmax over 32 fixed
    * hashes; ties impossible in practice and broken by shard id in both
    * engines), exact integer counts end-to-end.
    *
    * Scale shape: the assignment is a per-row projection (32 md5s in the
    * scan — the CPU cost of statelessness, amortized to zero against any
    * real routing table lookup); one map-combining shard aggregate.
    */
  def x353HrwSharding(spark: SparkSession, sfDir: String): DataFrame = {
    def hrw(s: Int): Column = expr(
      s"""array_max(transform(sequence(0, ${s - 1}),
         |  s -> struct(md5(concat(cast(doc_id as string), '|',
         |                         cast(s as string))) as h, s))).s"""
        .stripMargin).cast("long")
    val assigned = Io.table(spark, sfDir, "documents")
      .select(col("doc_id"), hrw(32).as("shard32"), hrw(33).as("shard33"),
        pmod(col("doc_id"), lit(32)).cast("long").as("shard_mod"))
    val hrwLoad = assigned.groupBy(col("shard32").as("shard"))
      .agg(count(lit(1)).as("n_hrw"),
        sum((col("shard32") =!= col("shard33")).cast("long")).as("n_moved_33"))
    val modLoad = assigned.groupBy(col("shard_mod").as("shard"))
      .agg(count(lit(1)).as("n_mod"))
    hrwLoad.join(modLoad, Seq("shard"), "full")
      .select(col("shard"), coalesce(col("n_hrw"), lit(0L)).as("n_hrw"),
        coalesce(col("n_mod"), lit(0L)).as("n_mod"),
        coalesce(col("n_moved_33"), lit(0L)).as("n_moved_33"))
      .orderBy("shard")
  }

  /** Exact micro-unit squared distance between two double arrays — the
    * codegen'd [[graft.functions.MicroL2]] native expression (each
    * per-dimension square round6'd to an integer micro-value, summed as
    * LONGs: exact, order-free, engine-portable — DuckDB list_sum over
    * the identical integers). Was aggregate(zip_with(...)): the per-pair
    * intermediate array cost 13 s/query at sf0.1.
    */
  private def d2Micro(a: String, b: String): Column =
    call_function("micro_l2", col(a), col(b))

  /** x354 — LOCAL OUTLIER FACTOR (round-13; Breunig et al. 2000, k = 3)
    * over a deterministic query sample of the embedding corpus: the
    * DENSITY-based outlier score (LOF ≈ 1 inlier, ≫ 1 outlier) that
    * catches what x97's value-space MAD fence cannot — a vector can have
    * ordinary coordinates yet sit in a sparse REGION; LOF prices each
    * query's density against its neighbors' densities, the embedding-QA
    * gate run before clustering/dedup trusts local structure.
    *
    * THREE-hop kNN by construction (the part naive ports get wrong):
    * LOF(q) needs lrd of q and of q's neighbors; every lrd needs the
    * k-DISTANCE of ITS neighbors — so queries A (vec_id % 200 == 0, capped under 10000 — a CONSTANT probe set at any corpus size, the x352 rule) get
    * kNN, hull₁ = A ∪ N(A) gets kNN, and the third ring C = N(hull₁)
    * gets kNN solely for its k-distance row. Exactness: distances are
    * exact micro-integers ([[d2Micro]]); kNN orders by (d2, vec_id) —
    * total; reach-dist is an integer max; lrd = round6(k/Σreach) with Σ
    * exact; LOF = round6 of the exact-decimal mean of round6'd
    * lrd-ratios (lrd = 0 — an all-duplicates ring — pins ratio 0).
    *
    * Scale shape: each ring BROADCASTS into one corpus scan (m·N array
    * folds, m bounded by k²·|A| ≪ N) — the x11/x352 probe shape; no N²
    * frame ever materializes. At corpus scale the same three-stage tail
    * runs behind an ANN candidate generator (the x56b composition).
    */
  def x354Lof(spark: SparkSession, sfDir: String): DataFrame =
    // whole build + pin rotation serialized by PinnedResult (verdict r13
    // #2 / r14 #3): the helper owns the persist -> force -> staging-release
    // -> rotate order, one locked implementation for every rotating pin
    x354Pin.swapStaged {
    import ExtendedQueries.stableRound6
    val k = 3
    val emb = Io.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val byId = emb.select(col("vec_id").as("pid"), col("v").as("pv"))
    // knnOf stays NARROW (pid, vec_id, d2): carrying the 64-double vector
    // through the window exchange was TRIED in round 14 and reverted —
    // every candidate row (m·N before the top-k cut) would ship the array
    // through the hash exchange and sort, a ~60× payload inflation that
    // measured SLOWER than the byId re-joins it replaced. Ring vectors
    // come from cheap tiny-ids × corpus equi-joins instead.
    def knnOf(points: DataFrame): DataFrame = {
      // points: (pid, pv) broadcast into one corpus scan; top-k per pid
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("pid").orderBy(col("d2"), col("vec_id"))
      emb.crossJoin(broadcast(points.select("pid", "pv")))
        .filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"), d2Micro("pv", "v").as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
    }
    // THREE pins, one per broadcast-fold corpus scan (down from five,
    // verdict r13 #2): qknn caps scan 1 (kNN of A), h1knn caps scan 2
    // (kNN of hull1∖A, unioned with the already-pinned A rows instead of
    // refolding them), lrd caps scan 3 (the third ring's k-distance fold,
    // which lrd is the sole consumer-facing frame of — ql reads lrd
    // TWICE, so an unpinned lrd would run that fold twice). hull1/ring/
    // kdist are derived from pinned frames plus one tiny-ids byId join
    // each and recompute for pennies.
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }
    val queries = byId.filter(col("pid") % 200 === 0 && col("pid") < 10000)
    val qknn = pin(knnOf(queries))
    val hull1 = queries.unionByName(
        qknn.select(col("vec_id").as("pid")).distinct().join(byId, "pid"))
      .dropDuplicates("pid")
    val h1knn = pin(qknn.unionByName(
      knnOf(hull1.join(queries.select("pid"), Seq("pid"), "left_anti"))))
    val ring = h1knn.select(col("vec_id").as("pid")).distinct()
      .join(byId, "pid")
      .join(hull1.select("pid"), Seq("pid"), "left_anti")
    val cknn = knnOf(ring) // third ring: only its rn == k row is consumed
    // k-distance of hull1 ∪ ring covers every neighbor any lrd touches
    val kdist = h1knn.filter(col("rn") === k).unionByName(
        cknn.filter(col("rn") === k))
      .select(col("pid").as("kd_pid"), col("d2").as("kdist"))
    // lrd over hull1: reach(a→b) = max(kdist(b), d2(a,b)), exact integers
    val lrd = pin(h1knn
      .join(kdist, col("vec_id") === col("kd_pid"))
      .groupBy("pid")
      .agg(sum(greatest(col("kdist"), col("d2"))).as("sum_reach"))
      .select(col("pid"),
        when(col("sum_reach") > 0,
          stableRound6(lit(k.toDouble) / (col("sum_reach").cast("double") / 1e6)))
          .otherwise(lit(0.0)).as("lrd")))
    val ql = qknn.select(col("pid"), col("vec_id"))
      .join(lrd.select(col("pid").as("vec_id"), col("lrd").as("lrd_b")), "vec_id")
      .join(lrd.select(col("pid"), col("lrd").as("lrd_a")), "pid")
      .groupBy("pid", "lrd_a")
      .agg(sum(when(col("lrd_a") > 0,
          stableRound6(col("lrd_b") / col("lrd_a"))).otherwise(lit(0.0))
        .cast("decimal(28,6)")).as("ratio_sum"))
    val out = ql
      .join(emb.select(col("vec_id").as("pid"), col("label")), "pid")
      .select(col("pid").as("vec_id"), col("label"),
        stableRound6(col("lrd_a")).as("lrd"),
        stableRound6(col("ratio_sum").cast("double") / k.toDouble).as("lof"))
      .orderBy("vec_id")
    (out, () => Seq(qknn, h1knn, lrd).foreach(_.unpersist(false)))
  }

  private val x354Pin = new graft.core.PinnedResult

  /** x355 — SPLIT-CONFORMAL calibration audit (round-13; Vovk et al.;
    * Angelopoulos & Bates 2021 tutorial form): the distribution-free
    * uncertainty wrapper a labeling/filter pipeline puts around ANY
    * score — calibrate a nonconformity threshold on half the data, check
    * empirical coverage on the other half. Per event type: scores are
    * s = |value_micro − calibration mean| (exact integers vs a round6'd
    * exact-decimal mean), q̂ = the ⌈(n_cal+1)·0.9⌉-th smallest
    * calibration score (EXACT rank pick, the split-conformal quantile),
    * coverage = P(test score ≤ q̂) — guaranteed ≥ 0.9 − 1/(n_cal+1) in
    * expectation, and the audit row is exactly that check.
    *
    * Exactness: scores are integer micro-distances to a round6'd mean
    * (one rounding, then exact |diff|); the rank pick is row_number over
    * (score, event_id) — total order; coverage is ONE division, round6.
    *
    * Scale shape: one map-combining (type) aggregate for means, one
    * rank window per type over the calibration half (value-cardinality
    * keys — |types| partitions), one broadcast of the |types|-row q̂
    * frame into the test scan. Linear; no query touches pairs.
    */
  def x355ConformalCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import ExtendedQueries.stableRound6
    val ev = Io.events(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 1000000 + 0.5).cast("long").as("vm"),
        (col("event_id") % 2 === 0).as("is_cal"))
    val means = ev.filter(col("is_cal"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_cal"),
        stableRound6(sum(col("vm").cast("decimal(28,0)")).cast("double") /
          count(lit(1)).cast("double")).as("mu"))
    val scored = ev.join(broadcast(means), "event_type")
      .select(col("event_type"), col("event_id"), col("is_cal"), col("n_cal"),
        abs(col("vm").cast("double") - col("mu")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("s"), col("event_id"))
    val qhat = scored.filter(col("is_cal"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn").cast("long") ===
        ceil((col("n_cal") + 1).cast("double") * 0.9).cast("long"))
      .select(col("event_type"), col("s").as("qhat"))
    scored.filter(!col("is_cal"))
      .join(broadcast(qhat), "event_type")
      .groupBy("event_type")
      .agg(max("n_cal").as("n_cal"), count(lit(1)).as("n_test"),
        max("qhat").as("qhat_raw"),
        sum((col("s") <= col("qhat")).cast("long")).as("n_covered"))
      .select(col("event_type"), col("n_cal"), col("n_test"),
        stableRound6(col("qhat_raw")).as("qhat"),
        col("n_covered"),
        stableRound6(col("n_covered").cast("double") /
          col("n_test").cast("double")).as("coverage"))
      .orderBy("event_type")
  }
}
