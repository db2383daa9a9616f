package graft.queries

import graft.SparkSpec

/** Round-11 query semantics the sf fixtures alone don't pin: the ESS
  * rounding chain on a hand-computable two-source mix (x265), the kappa
  * contingency arithmetic and its pe=1 NULL pin (x266), PMI's exact-ratio
  * ln and count gate (x267), burstiness moments with implicit zero-count
  * documents (x268), the order-insensitive leakage fingerprint (x269),
  * and the strided-window ceiling arithmetic at the W/S boundaries (x270).
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = tmpDir("r11").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def r(x: Double, digits: Int = 6): Double = {
    val p = math.pow(10, digits)
    math.floor(x * p + 0.5) / p
  }

  test("x265: ESS chain equals the hand recompute on a 4+1 doc mix") {
    val rows = (1L to 4L).map(i => (i, "t", "en", "sa", 10L)) :+
      ((9L, "t", "en", "sb", 10L))
    val out = Round11Queries.x265MixEss(spark, docsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    // independent recompute of the documented rounding chain
    val r6a = r(math.sqrt(4.0)); val r6b = r(math.sqrt(1.0))
    val s = r6a + r6b // exact decimals: 2.000000 + 1.000000
    val wa = r(r6a / s); val wb = r(r6b / s)
    val ca = r(wa * wa / 4.0, 9); val cb = r(wb * wb / 1.0, 9)
    val sw = BigDecimal(wa) + BigDecimal(wb)
    val sc = BigDecimal(ca) + BigDecimal(cb)
    val ess = r(sw.toDouble * sw.toDouble / sc.toDouble)
    val essRatio = r(sw.toDouble * sw.toDouble / sc.toDouble / 5.0)
    assert(out("sa") == ((4L, wa, ess, essRatio)))
    assert(out("sb") == ((1L, wb, ess, essRatio)))
    // sanity: 4+1 under sqrt-temperature resamples the small source hard,
    // so the effective corpus must sit strictly between 1 and 5 docs
    assert(ess > 1.0 && ess < 5.0)
  }

  test("x266: kappa equals the contingency recompute; pe = 1 pins NULL") {
    def doc(id: Long, tokens: Int, chars: Long) =
      (id, Seq.fill(tokens)("w").mkString(" "), "en", "s", chars)
    // cells: n11 = 2 (long+many), n10 = 1, n01 = 1, n00 = 2
    val rows = Seq(doc(1, 30, 150), doc(2, 30, 150), doc(3, 3, 150),
      doc(4, 30, 50), doc(5, 3, 50), doc(6, 3, 50))
    val got = Round11Queries.x266CohenKappa(spark, docsDir(rows)).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((6L, 2L, 1L, 1L, 2L)))
    assert(got.getDouble(5) == r(4.0 / 6.0))        // po
    assert(got.getDouble(6) == 0.5)                 // pe = 18/36
    assert(got.getDouble(7) == r(6.0 / 18.0))       // kappa = (24-18)/(36-18)
    // degenerate: every doc in the n11 cell -> pe = 1 -> NULL kappa
    val deg = Round11Queries.x266CohenKappa(spark,
      docsDir(Seq(doc(1, 30, 150), doc(2, 30, 150)))).head()
    assert(deg.isNullAt(7))
    assert(deg.getDouble(5) == 1.0 && deg.getDouble(6) == 1.0)
  }

  test("x267: PMI is the exact-ratio ln; the count gate drops rare bigrams") {
    val rows = (1L to 5L).map(i => (i, "a b", "en", "s", 3L)) ++
      Seq((11L, "c d", "en", "s", 3L), (12L, "c d", "en", "s", 3L))
    val out = Round11Queries.x267PmiCollocations(spark, docsDir(rows)).collect()
    assert(out.length == 1, "only 'a b' passes the cab >= 5 gate")
    val row = out.head
    // NU = 14 tokens, NB = 7 bigrams, cab = ca = cb = 5
    val pmi = r(math.log(5.0 * 14 * 14 / (7.0 * 5 * 5)))
    assert(row.getString(0) == "a b" && row.getLong(1) == 5L &&
      row.getLong(2) == 5L && row.getLong(3) == 5L &&
      row.getDouble(4) == pmi)
  }

  test("x268: VMR moments include zero-count documents implicitly") {
    val rows = Seq((1L, "x x x x", "en", "s", 7L), (2L, "x", "en", "s", 1L),
      (3L, "y y", "en", "s", 3L))
    val out = Round11Queries.x268Burstiness(spark, docsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    // x: per-doc counts (4, 1, 0) over N = 3 docs: sc = 5, scc = 17
    //    vmr = (3*17 - 25) / (5 * 2) = 2.6
    assert(out("x") == ((5L, 2L, r(5.0 / 3.0), 2.6)))
    // y: counts (0, 0, 2): sc = 2, scc = 4, vmr = (12 - 4) / (2 * 2) = 2
    assert(out("y") == ((2L, 1L, r(2.0 / 3.0), 2.0)))
  }

  test("x269: fingerprint is order-insensitive; pair count is c_a * c_b") {
    val rows = Seq(
      (1L, "a b c", "en", "s1", 5L), (2L, "c a b", "en", "s1", 5L),
      (3L, "b c a a", "en", "s2", 7L), // duplicate token, same SET
      (4L, "z", "en", "s3", 1L))
    val out = Round11Queries.x269DupLeakage(spark, docsDir(rows)).collect()
    assert(out.length == 1, "only (s1, s2) share a fingerprint")
    val row = out.head
    assert(row.getString(0) == "s1" && row.getString(1) == "s2" &&
      row.getLong(2) == 1L && row.getLong(3) == 2L)
  }

  test("x270: window counts honor the W/S boundaries exactly") {
    val rows = Seq(
      (1L, Seq.fill(64)("w").mkString(" "), "en", "sa", 64L),  // 1 window
      (2L, Seq.fill(65)("w").mkString(" "), "en", "sb", 65L),  // 2 windows
      (3L, Seq.fill(160)("w").mkString(" "), "en", "sc", 160L), // 3 windows
      (4L, Seq.fill(161)("w").mkString(" "), "en", "sd", 161L)) // 4 windows
    val out = Round11Queries.x270StrideWindows(spark, docsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5))).toMap
    assert(out("sa") == ((64L, 1L, 64L, 1.0)))
    assert(out("sb") == ((65L, 2L, 128L, r(128.0 / 65.0))))
    assert(out("sc") == ((160L, 3L, 192L, 1.2)))
    assert(out("sd") == ((161L, 4L, 256L, r(256.0 / 161.0))))
  }

  test("x271: identical docs are candidates in every band, all true positives") {
    // five exact copies share all 16 minhashes -> candidates in all 4
    // bands; C(5,2) = 10 pairs per band, every one verifies at j = 1
    val rows = (1L to 5L).map(i => (i, "a b c d e f", "en", "s", 11L)) ++
      Seq((11L, "p q r s t u", "en", "s", 11L)) // disjoint, never a candidate
    val out = Round11Queries.x271LshFpAudit(spark, docsDir(rows))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3)))
    assert(out.length == 4)
    assert(out.forall { case (_, cand, tru, fp) =>
      cand == 10L && tru == 10L && fp == 0.0 })
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("x272: shard moments equal the hand recompute (incl. the md5 shards)") {
    val toks = Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4)
    val rows = toks.toSeq.sortBy(_._1).map { case (id, t) =>
      (id, Seq.fill(t)("w").mkString(" "), "en", "s", t.toLong) }
    val out = Round11Queries.x272ShardBalance(spark, docsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(2), x.getLong(3), x.getDouble(4), x.getDouble(5))).toMap
    def audit(shardOf: Long => Long): (Long, Long, Double, Double) = {
      val byShard = toks.toSeq.groupBy { case (id, _) => shardOf(id) }
        .map { case (_, g) => g.map(_._2.toLong).sum }
      val sx = byShard.sum; val sxx = byShard.map(x => x * x).sum
      val mx = byShard.max
      (sx, mx, r(math.sqrt((32.0 * sxx - sx * sx) / (sx * sx).toDouble)),
        r(32.0 * mx / sx))
    }
    assert(out("mod") == audit(_ % 32))
    assert(out("hash") == audit(id =>
      java.lang.Long.parseLong(md5hex(id.toString).substring(0, 8), 16) % 32))
  }

  test("x273: FD width from exact quartiles; integer bins at the boundaries") {
    val rows = (1L to 8L).map(i => (i, "t", "en", "s", i)) // n_chars = 1..8
    val out = Round11Queries.x273FdHistogram(spark, docsDir(rows))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    // n = 8: q1 at rank ceil(8/4) = 2 -> 2; q3 at rank ceil(24/4) = 6 -> 6
    // h = round6(2*4 / 8^(1/3)) = 4.0 -> snapped 4
    assert(out(0L) == ((0L, 4L, 4L, 2L, 6L, 3L)))  // x = 1, 2, 3
    assert(out(1L) == ((4L, 8L, 4L, 2L, 6L, 4L)))  // x = 4..7
    assert(out(2L) == ((8L, 12L, 4L, 2L, 6L, 1L))) // x = 8
  }

  test("x274: Good-Turing singleton mass and smoothed r*") {
    val rows = Seq((1L, "a a b c", "en", "s", 7L))
    val got = Round11Queries.x274GoodTuring(spark, docsDir(rows)).head()
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4))
      == ((4L, 3L, 2L, 1L)))
    assert(got.getDouble(5) == 0.5)  // N1/N = 2/4
    assert(got.getDouble(6) == 1.0)  // 2*N2/N1 = 2/2
    // closed vocabulary: every type repeated -> N1 = 0 -> r* NULL
    val deg = Round11Queries.x274GoodTuring(spark,
      docsDir(Seq((1L, "a a b b", "en", "s", 7L)))).head()
    assert(deg.getLong(3) == 0L && deg.isNullAt(6))
    assert(deg.getDouble(5) == 0.0)
  }

  test("x276: weighted Jaccard is sum-min over sum-max of token multisets") {
    val rows = Seq(
      (1L, "a a b", "en", "sa", 5L),      // counts a:2 b:1, N = 3
      (2L, "a b b c", "en", "sb", 7L),    // counts a:1 b:2 c:1, N = 4
      (3L, "z", "en", "sc", 1L))          // disjoint from both
    val out = Round11Queries.x276WeightedJaccard(spark, docsDir(rows)).collect()
    // r12 spine contract (advice r11): EVERY pair is a row — the two
    // pairs touching the disjoint source sc carry explicit zeros instead
    // of being silently absent
    assert(out.length == 3, "all three source pairs must be reported")
    def tup(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))
    // sum_min = min(2,1) + min(1,2) = 2; union mass = 3 + 4 - 2 = 5
    assert(tup(out(0)) == (("sa", "sb", 2L, 2L, 3L, 4L, 0.4)))
    assert(tup(out(1)) == (("sa", "sc", 0L, 0L, 3L, 1L, 0.0)))
    assert(tup(out(2)) == (("sb", "sc", 0L, 0L, 4L, 1L, 0.0)))
  }

  test("x277: triangle and wedge census on a hand-built 4-node graph") {
    // d1 closes (a,b,c); d2/d3 add edges (a,d) and (b,d) -> triangle (a,b,d)
    val rows = Seq((1L, "a b c", "en", "s", 5L), (2L, "a d", "en", "s", 3L),
      (3L, "b d", "en", "s", 3L))
    val got = Round11Queries.x277TriangleCensus(spark, docsDir(rows)).head()
    // edges: ab ac bc ad bd; degrees a3 b3 c2 d2 -> wedges 3+3+1+1 = 8
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((4L, 5L, 8L, 2L)))
    assert(got.getDouble(4) == 0.75) // 3*2/8
    // wedges = 0 (single edge): transitivity NULL
    val deg = Round11Queries.x277TriangleCensus(spark,
      docsDir(Seq((1L, "a b", "en", "s", 3L)))).head()
    assert(deg.getLong(2) == 0L && deg.isNullAt(4))
  }

  test("x278: AMS signs come from md5 parity; Z and F2 match the recompute") {
    val rows = Seq((1L, "a a b", "en", "s", 5L))
    val out = Round11Queries.x278AmsF2(spark, docsDir(rows)).collect()
    assert(out.length == 16)
    def sign(j: Int, w: String): Long =
      if (Integer.parseInt(md5hex(s"$j:$w").substring(0, 1), 16) % 2 == 0) 1L
      else -1L
    val zs = (0 until 16).map(j => sign(j, "a") * 2L + sign(j, "b") * 1L)
    val se = zs.map(z => z * z).sum
    out.zipWithIndex.foreach { case (row, j) =>
      assert(row.getLong(0) == j.toLong && row.getLong(1) == zs(j) &&
        row.getLong(2) == zs(j) * zs(j) && row.getLong(3) == 5L)
      assert(row.getDouble(4) == r(se / 16.0))
      assert(row.getDouble(5) == r(math.abs(se / 16.0 - 5.0) / 5.0))
    }
  }

  test("x279: syllables are vowel groups (min 1/word); score is the formula") {
    val rows = Seq(
      (1L, "spark go", "en", "s", 8L),   // 1 + 1 syllable groups
      (2L, "aeiou bcd", "en", "s", 9L))  // 1 group + vowel-less min-1
    val got = Round11Queries.x279FleschSource(spark, docsDir(rows)).head()
    assert((got.getLong(1), got.getLong(2), got.getLong(3)) == ((2L, 4L, 4L)))
    assert(got.getDouble(4) == 2.0 && got.getDouble(5) == 1.0)
    assert(got.getDouble(6) == r(206.835 - 1.015 * 2.0 - 84.6 * 1.0))
  }

  test("x283: every 25th rank in (md5, doc_id) order is kept, exactly") {
    val rows = (1L to 26L).map(i => (i, "t", "en", "s", 1L))
    val out = Round11Queries.x283SystematicSample(spark, docsDir(rows))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val ordered = (1L to 26L).map(i => (md5hex(i.toString), i)).sorted
    assert(out.toSeq == Seq((1L, ordered(0)._2), (26L, ordered(25)._2)))
  }

  private def custDir(rows: Seq[(Long, String, Int, Double, String)]): String = {
    val dir = tmpDir("r11c").toString
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }

  test("x280: FS scores are exact sums of the pre-rounded literal weights") {
    val rows = Seq(
      (1L, "Customer#1", 1, 150.0, "AUTO"),
      (2L, "Customer#1", 1, 199.0, "AUTO"),   // agrees with 1 on all three
      (3L, "Customer#2", 1, -50.0, "AUTO"),   // disagrees on all three
      (4L, "Customer#9", 2, 150.0, "AUTO"))   // other block: never paired
    val out = Round11Queries.x280FellegiSunter(spark, custDir(rows))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2),
        x.getInt(3), x.getInt(4), x.getDouble(5)))
    assert(out.length == 3)
    // all-agree: ln(18) + ln(8.5) + ln(1.9), each pre-round6'd
    assert(out(0) == ((1L, 2L, 1, 1, 1, 5.672292)))
    // floor(-50) div 100 = 0 (truncating div) vs 1 -> balance disagrees too
    assert(out(1) == ((1L, 3L, 0, 0, 0, -6.345636)))
    assert(out(2) == ((2L, 3L, 0, 0, 0, -6.345636)))
  }

  test("x281: decay law over the fingerprint-unique mass, budget = max raw") {
    val rows = Seq(
      (1L, "a b", "en", "sa", 3L), (2L, "b a", "en", "sa", 3L), // same SET
      (3L, "c", "en", "sa", 1L), (4L, "x", "en", "sb", 1L))
    val out = Round11Queries.x281DataConstrained(spark, docsDir(rows))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getLong(3), x.getDouble(4), x.getDouble(5), x.getDouble(6))).toMap
    def expect(u: Long, b: Long): (Double, Double, Double) = {
      val rp = b.toDouble / u.toDouble - 1.0
      val deff = u.toDouble * (1.0 + 15.0 * (1.0 - math.exp(-(rp / 15.0))))
      (r(rp), r(deff), r(deff / b.toDouble))
    }
    val (ra, da, ea) = expect(3L, 5L)
    assert(out("sa") == ((5L, 3L, 5L, ra, da, ea)))
    val (rb, db, eb) = expect(1L, 5L)
    assert(out("sb") == ((1L, 1L, 5L, rb, db, eb)))
  }

  private def eventsDir(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = tmpDir("r11e").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("x282: Brown-Forsythe F from doubled medians and integer-div SS") {
    val rows = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, 1000L * i, 1L, "a", v) } ++
      Seq(10.0, 10.0, 10.0).zipWithIndex.map { case (v, i) =>
        (100L + i, 2000L * i, 2L, "b", v) }
    val out = Round11Queries.x282BrownForsythe(spark, eventsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3),
          if (x.isNullAt(4)) Double.NaN else x.getDouble(4))).toMap
    // a: v 1..4, med2 = 5, z = 3,1,1,3 -> n 4, S 8, Q 20
    // b: z = 0,0,0 -> A = 64 div 4 = 16; B = 16 - 64 div 7 = 7; W = 4
    // F = (7-2)*7 / ((2-1)*4) = 8.75
    assert(out("a") == ((4L, 5L, 8L, 8.75)))
    assert(out("b") == ((3L, 20L, 0L, 8.75)))
    // degenerate: every deviation zero -> within-SS 0 -> F NULL
    val deg = Round11Queries.x282BrownForsythe(spark,
      eventsDir(Seq((1L, 0L, 1L, "a", 5.0), (2L, 1L, 1L, "a", 5.0)))).head()
    assert(deg.isNullAt(4))
  }

  test("x284: Theil terms round6 per doc then sum exactly") {
    val rows = Seq((1L, "a", "en", "s", 1L), (2L, "a b c", "en", "s", 5L))
    val got = Round11Queries.x284TheilIndex(spark, docsDir(rows)).head()
    // token masses 1 and 3, n = 2, N = 4: ratios 0.5 and 1.5
    val st = BigDecimal(r(0.5 * math.log(0.5))) +
      BigDecimal(r(1.5 * math.log(1.5)))
    assert((got.getLong(1), got.getLong(2)) == ((2L, 4L)))
    assert(got.getDouble(3) == r(st.toDouble / 2.0))
  }

  test("x285: cross-entropy and KL against the corpus unigram LM") {
    val rows = Seq((1L, "a a b", "en", "sa", 5L), (2L, "b", "en", "sb", 1L))
    val out = Round11Queries.x285SourceXent(spark, docsDir(rows))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4))).toMap
    val l2 = r(math.log(2.0)) // ln(4/2) for both tokens
    // sa: xent = (2+1)*l2 / 3; kl = (2*r(ln(4/3)) + r(ln(2/3))) / 3
    val klA = r((BigDecimal(2) * BigDecimal(r(math.log(4.0 / 3.0))) +
      BigDecimal(r(math.log(2.0 / 3.0)))).toDouble / 3.0)
    val h = r((BigDecimal(2) * BigDecimal(l2) * 2).toDouble / 4.0)
    assert(out("sa") == ((3L, r((BigDecimal(3) * BigDecimal(l2)).toDouble / 3.0),
      klA, h)))
    // sb: one token b: xent = l2; kl = ln(1*4 / (1*2)) = l2
    assert(out("sb") == ((1L, l2, l2, h)))
  }

  test("x286: Fleiss kappa is one exact-integer division; pe = 1 pins NULL") {
    val rows = Seq(
      (1L, Seq.fill(30)("w").mkString(" "), "en", "s", 150L), // a = 3
      (2L, "w w w", "de", "s", 150L),                         // a = 1
      (3L, "w w w", "en", "s", 50L))                          // a = 1
    val got = Round11Queries.x286FleissKappa(spark, docsDir(rows)).head()
    // sp = 6 + 2 + 2 = 10; Tp = 5; peNum = 25 + 16 = 41
    assert((got.getLong(0), got.getLong(1)) == ((3L, 5L)))
    assert(got.getDouble(2) == r(10.0 / 18.0))
    assert(got.getDouble(3) == r(41.0 / 81.0))
    assert(got.getDouble(4) == 0.1) // (90 - 82) / (162 - 82)
    val deg = Round11Queries.x286FleissKappa(spark, docsDir(Seq(
      (1L, Seq.fill(30)("w").mkString(" "), "en", "s", 150L),
      (2L, Seq.fill(30)("w").mkString(" "), "en", "s", 150L)))).head()
    assert(deg.isNullAt(4) && deg.getDouble(3) == 1.0)
  }

  test("x287: the ladder keeps the min-doc_id canonical mass per rung") {
    val rows = Seq(
      (1L, "a b", "en", "s", 3L), (2L, "a b", "en", "s", 3L),  // exact dup
      (3L, "b a", "en", "s", 3L),                              // set dup only
      (4L, "c", "en", "s", 1L))
    val got = Round11Queries.x287DedupSavings(spark, docsDir(rows)).head()
    // raw 7; exact keeps "a b"(2) + "b a"(2) + "c"(1) = 5; set keeps 2 + 1
    assert((got.getLong(1), got.getLong(2), got.getLong(3)) == ((7L, 5L, 3L)))
    assert(got.getDouble(4) == r(2.0 / 7.0))
    assert(got.getDouble(5) == r(4.0 / 7.0))
  }

  test("x288: the tau = 0.5 slice equals x265; tau = 1 keeps the full corpus") {
    val rows = (1L to 4L).map(i => (i, "t", "en", "sa", 10L)) :+
      ((9L, "t", "en", "sb", 10L))
    val dir = docsDir(rows)
    val sweep = Round11Queries.x288TempSweep(spark, dir)
      .collect().map(x => (x.getDouble(0), x.getString(1)) ->
        (x.getDouble(3), x.getDouble(4), x.getDouble(5))).toMap
    val x265 = Round11Queries.x265MixEss(spark, dir)
      .collect().map(x => x.getString(0) ->
        (x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    for (s <- Seq("sa", "sb")) assert(sweep((0.5, s)) == x265(s),
      s"tau=0.5 must reproduce x265's sqrt-temperature numbers for $s")
    // tau = 1: natural proportions -> ESS = N exactly, ratio 1
    assert(sweep((1.0, "sa")) == ((0.8, 5.0, 1.0)))
    assert(sweep((1.0, "sb")) == ((0.2, 5.0, 1.0)))
  }

  private def embDir(rows: Seq[(Long, Array[Float], Int)]): String = {
    val dir = tmpDir("r11v").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("x289: projection signs come from the literal matrix, scaling by 1/8") {
    def unit(d: Int, scale: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(d - 1) = scale; a
    }
    val rows = Seq((0L, unit(1, 1.0f), 0), (1L, unit(2, 2.0f), 0))
    val got = Round11Queries.x289JlDistortion(spark, embDir(rows)).head()
    def sign(k: Int, d: Int): Double =
      if (Round11Queries.JlSigns.charAt((k - 1) * 64 + (d - 1)) == '1') 1.0
      else -1.0
    // d2o = 1 + 4 = 5; per k: (s_k1*1 - s_k2*2)^2
    val d2p = (1 to 8).map { k =>
      val diff = sign(k, 1) * 1.0 - sign(k, 2) * 2.0; diff * diff }.sum
    assert((got.getLong(0), got.getLong(1)) == ((0L, 1L)))
    assert(got.getDouble(2) == 5.0)
    assert(got.getDouble(3) == r(d2p / 8.0))
    assert(got.getDouble(4) == r(d2p / 8.0 / 5.0))
  }

  test("x290: ES keys u^(1/w) pick the exact top-20 without replacement") {
    val rows = (1L to 26L).map(i =>
      (i, Seq.fill((i % 3).toInt + 1)("w").mkString(" "), "en", "s",
        ((i % 3) + 1)))
    val out = Round11Queries.x290EsSample(spark, docsDir(rows))
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getDouble(4)))
    val expect = (1L to 26L).map { i =>
      val h = java.lang.Long.parseLong(md5hex(i.toString).substring(0, 8), 16)
      val u = (h + 1).toDouble / 4294967296.0
      val w = (i % 3) + 1
      (i, w, math.exp(math.log(u) / w.toDouble))
    }.sortBy { case (id, _, k) => (-k, id) }.take(20)
      .map { case (id, w, k) => (id, w, r(k)) }
    assert(out.toSeq == expect)
  }

  test("x291: Kendall pair census over the zero-filled grid; tau-b exact") {
    val rows = Seq((1L, "a a a b b c", "en", "sa", 11L),
      (2L, "c c b a", "en", "sb", 7L))
    val out = Round11Queries.x291KendallTau(spark, docsDir(rows))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5), x.getDouble(6))).toMap
    // corpus x: a4 b3 c3; sa y: a3 b2 c1; sb y: a1 b1 c2
    assert(out("sa") == ((3L, 2L, 0L, 1L, 0L, r(2.0 / math.sqrt(6.0)))))
    assert(out("sb") == ((3L, 0L, 1L, 1L, 1L, -0.5)))
  }

  test("x292: one-bucket corpus pins confidence, accuracy and the exact ECE") {
    // identical all-stopword docs -> one score bucket; 2 of 4 hit the rule
    val rows = Seq((1L, "the the the the", "en", "s", 150L),
      (2L, "the the the the", "en", "s", 150L),
      (3L, "the the the the", "en", "s", 50L),
      (4L, "the the the the", "en", "s", 50L))
    val out = Round11Queries.x292CalibrationEce(spark, docsDir(rows)).collect()
    assert(out.length == 1)
    val z = -1.5 + 0.4 * math.log(5.0) - 2.5 * 1.0 + 0.05 * 3.0
    val p6 = math.floor(1.0 / (1.0 + math.exp(-z)) * 1000000 + 0.5).toLong
    val row = out.head
    assert(row.getLong(0) == p6 / 100000 && row.getLong(1) == 4L)
    assert(row.getDouble(2) == r(p6.toDouble / 1e6))
    assert(row.getDouble(3) == 0.5)
    assert(row.getDouble(4) == r(math.abs(2L * 1000000L - 4L * p6).toDouble / 4e6))
  }

  test("x293: farthest-point traversal picks centers and radii exactly") {
    def v(vals: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f); vals.foreach { case (d, x) => a(d - 1) = x }; a
    }
    val rows = Seq((0L, v(), 0), (1L, v(1 -> 1.0f), 0), (2L, v(1 -> 10.0f), 0),
      (3L, v(2 -> 6.0f), 0), (4L, v(1 -> 10.0f, 2 -> 0.5f), 0))
    val out = Round11Queries.x293KCenter(spark, embDir(rows))
      .collect().map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) -1.0 else x.getDouble(2)))
    assert(out.toSeq == Seq((1L, 0L, -1.0), (2L, 4L, 100.25),
      (3L, 3L, 36.0), (4L, 1L, 1.0)))
  }

  test("x294: window minima follow MOSS; short docs are excluded") {
    // doc 1: 6 tokens -> 4 shingles, ONE window -> 1 fingerprint, density .25
    // doc 2: 7 tokens -> 5 shingles, TWO windows
    val rows = Seq((1L, "a b c d e f", "en", "s", 11L),
      (2L, "g h i j k l m", "en", "s", 13L),
      (3L, "x y", "en", "s", 3L)) // m = 0 -> excluded
    val got = Round11Queries.x294Winnowing(spark, docsDir(rows)).head()
    def sh(toks: Seq[String]): Seq[String] =
      toks.sliding(3).map(t => md5hex(t.mkString(" "))).toSeq
    val h2 = sh(Seq("g", "h", "i", "j", "k", "l", "m"))
    val nfp2 = Seq(h2.slice(0, 4).min, h2.slice(1, 5).min).distinct.size
    assert((got.getLong(1), got.getLong(2), got.getLong(3))
      == ((2L, 1L + nfp2, 9L)))
    val mean = (BigDecimal(r(1.0 / 4.0)) + BigDecimal(r(nfp2 / 5.0))).toDouble / 2.0
    assert(got.getDouble(4) == r(mean))
    assert(got.getDouble(5) == 0.4)
  }

  test("x295: HLL registers equal the md5 recompute; linear counting kicks in") {
    val rows = Seq((1L, "a b c", "en", "s", 5L))
    val got = Round11Queries.x295Hll16(spark, docsDir(rows)).head()
    // driver-side recompute of the register file from the same md5s
    val regs = Array.fill(16)(0)
    for (w <- Seq("a", "b", "c")) {
      val h = md5hex(w)
      val j = Integer.parseInt(h.substring(7, 8), 16)
      val p7 = h.substring(0, 7)
      val zeros = p7.takeWhile(_ == '0').length * 4 + (
        if (p7 == "0000000") 0
        else { // extra zero bits from the first significant hex digit
          val c = p7.dropWhile(_ == '0').head
          if ("89abcdef".contains(c)) 0
          else if ("4567".contains(c)) 1
          else if ("23".contains(c)) 2 else 3
        })
      val rank = zeros + 1
      if (rank > regs(j)) regs(j) = rank
    }
    val den = regs.map(m => 1.0 / (1L << m).toDouble).sum
    val v = regs.count(_ == 0)
    val eRaw = 0.673 * 256.0 / den
    val est = if (eRaw <= 40.0 && v > 0) 16.0 * math.log(16.0 / v) else eRaw
    assert(got.getLong(0) == 3L && got.getLong(1) == v.toLong)
    assert(got.getDouble(2) == r(eRaw) && got.getDouble(3) == r(est))
  }

  test("x296: l counts distinct sensitive buckets per QI block") {
    val rows = Seq(
      (1L, "Customer#1", 1, 500.0, "A"),   // sens 0
      (2L, "Customer#2", 1, 900.0, "A"),   // sens 0 (same bucket)
      (3L, "Customer#3", 1, 1500.0, "A"),  // sens 1
      (4L, "Customer#4", 2, 5500.0, "B"))  // sens 5
    val out = Round11Queries.x296LDiversity(spark, custDir(rows))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(out == Map(1L -> ((1L, 0.5)), 2L -> ((1L, 0.5))))
  }

  test("x297: W1 is the exact CDF-gap Riemann sum on the shared grid") {
    val rows = Seq((1L, "t", "en", "sa", 1L), (2L, "t", "en", "sa", 1L),
      (3L, "t", "en", "sa", 3L), (4L, "t", "en", "sb", 3L))
    val out = Round11Queries.x297Wasserstein(spark, docsDir(rows))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    // grid {1, 3}, gap 2; corpus CDF at 1 = 0.5
    // sa: |2/3 - 1/2| * 2 = 1/3 (round6); sb: |0 - 1/2| * 2 = 1
    assert(out("sa") == ((3L, r(r(1.0 / 3.0)))))
    assert(out("sb") == ((1L, 1.0)))
  }

  test("x298: single- vs cross-source clusters and the purity mean") {
    val rows = Seq(
      (1L, "a b", "en", "s1", 3L), (2L, "b a", "en", "s1", 3L), // single, m=2
      (3L, "c d", "en", "s1", 3L), (4L, "d c", "en", "s2", 3L), // cross, pur .5
      (5L, "e f", "en", "s1", 3L), (6L, "e f", "en", "s1", 3L),
      (7L, "f e", "en", "s2", 3L),                              // cross, pur 2/3
      (8L, "z", "en", "s1", 1L))                                // singleton: excluded
    val got = Round11Queries.x298ClusterPurity(spark, docsDir(rows)).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((3L, 1L, 2L, 7L, 2L)))
    assert(got.getDouble(5) == r(2.0 / 3.0))
    val mp = (BigDecimal(1) + BigDecimal(0.5) + BigDecimal(r(2.0 / 3.0)))
    assert(got.getDouble(6) == r(mp.toDouble / 3.0))
  }

  test("x299: CV of per-user gaps — constant gaps pin CV 0, mixed exact") {
    // user 1, type a: ts 0, 10, 30 -> gaps 10, 20 (in ms -> us*1000 handled
    // by eventsRaw's ns contract: write ts as ns longs)
    def ev(id: Long, tNs: Long, u: Long, ty: String) = (id, tNs, u, ty, 1.0)
    val rows = Seq(ev(1, 0, 1, "a"), ev(2, 10000, 1, "a"), ev(3, 30000, 1, "a"),
      ev(4, 0, 2, "b"), ev(5, 5000, 2, "b"), ev(6, 10000, 2, "b"))
    val out = Round11Queries.x299InterArrival(spark, eventsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2),
          if (x.isNullAt(3)) Double.NaN else x.getDouble(3))).toMap
    // type a: gaps (us) 10, 20: mean 15, CV = sqrt(2*500-900)/30 = 10/30
    assert(out("a") == ((2L, 15.0, r(math.sqrt(100.0) / 30.0))))
    // type b: gaps 5, 5 -> CV 0
    assert(out("b") == ((2L, 5.0, 0.0)))
  }

  test("x300: ring assignment matches the driver-side md5 ring simulation") {
    val rows = (1L to 40L).map(i =>
      (i, Seq.fill((i % 5).toInt + 1)("w").mkString(" "), "en", "s",
        ((i % 5) + 1)))
    val out = Round11Queries.x300HashRing(spark, docsDir(rows))
      .collect().map(x => x.getString(0) -> (x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5), x.getDouble(6))).toMap
    def h32(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)
    def audit(vnodes: Int): (Long, Long, Long, Double, Double) = {
      val ring = (for (sh <- 0L until 32L; v <- 0 until vnodes)
        yield (h32(s"$sh:$v"), sh)).sorted
      val mass = scala.collection.mutable.Map.empty[Long, Long]
      for (i <- 1L to 40L) {
        val h = h32(i.toString)
        val shard = ring.find(_._1 >= h).getOrElse(ring.head)._2
        mass(shard) = mass.getOrElse(shard, 0L) + (i % 5) + 1
      }
      val xs = mass.values.toSeq
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum; val mx = xs.max
      (xs.size.toLong, sx, mx,
        r(math.sqrt((32.0 * sxx - sx * sx) / (sx * sx).toDouble)),
        r(32.0 * mx / sx))
    }
    assert(out("ring_v4") == audit(4))
    assert(out("ring_v1") == audit(1))
  }

  test("x301: OLS chain exact at beta=0; the grid argmin flags one best") {
    // counts ~ 60/(r+2): a Mandelbrot corpus with beta = 2
    val counts = (1 to 8).map(rk => math.round(60.0 / (rk + 2)).toInt)
    val text = counts.zipWithIndex
      .flatMap { case (c, i) => Seq.fill(c)(f"t$i%02d") }.mkString(" ")
    val out = Round11Queries.x301ZipfMandelbrot(spark,
      docsDir(Seq((1L, text, "en", "s", 99L)))).collect()
    assert(out.length == 6 && out.count(_.getBoolean(4)) == 1)
    assert(out.find(_.getBoolean(4)).get.getLong(0) == 2L,
      "the generating beta = 2 must win the SSE grid")
    // exact recompute of the beta = 0 OLS from the same rounding chain
    val pts = counts.zipWithIndex.map { case (c, i) =>
      (BigDecimal(r(math.log((i + 1).toDouble))), BigDecimal(r(math.log(c.toDouble)))) }
    val n = pts.size
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum; val sxy = pts.map(p => p._1 * p._2).sum
    val b = (n * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (n * sxx.toDouble - sx.toDouble * sx.toDouble)
    val a = (sy.toDouble - b * sx.toDouble) / n
    val sse = pts.map { case (x, y) =>
      BigDecimal(r((y.toDouble - a - b * x.toDouble) *
        (y.toDouble - a - b * x.toDouble))) }.sum
    val r0 = out.find(_.getLong(0) == 0L).get
    assert(r0.getDouble(1) == r(-b) && r0.getDouble(2) == r(a) &&
      r0.getDouble(3) == sse.toDouble)
  }

  test("x302: the quantized power-iteration orbit matches the recompute") {
    // one user, sequence a a b a b: from a -> {a: 1/3, b: 2/3}; from b -> {a: 1}
    val types = Seq("a", "a", "b", "a", "b")
    val rows = types.zipWithIndex.map { case (ty, i) =>
      (i.toLong, i.toLong * 1000, 1L, ty, 1.0) }
    val out = Round11Queries.x302MarkovStationary(spark, eventsDir(rows))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val p = Map(("a", "a") -> r(1.0 / 3.0), ("a", "b") -> r(2.0 / 3.0),
      ("b", "a") -> 1.0)
    var pi = Map("a" -> BigDecimal(0.5), "b" -> BigDecimal(0.5))
    for (_ <- 1 to 8) {
      pi = Seq("a", "b").map { t =>
        val s = Seq("a", "b").flatMap { f =>
          p.get((f, t)).map(w => BigDecimal(r((pi(f) * BigDecimal(w)).toDouble)))
        }.sum
        t -> BigDecimal(r(s.toDouble))
      }.toMap
    }
    assert(out("a") == pi("a").toDouble && out("b") == pi("b").toDouble)
  }

  test("x303: tokens past the top-1k cut count as OOV, ties broken by token") {
    val rare = (0 until 1005).map(i => f"t$i%04d")
    val text = (Seq.fill(50)("common") ++ rare).mkString(" ")
    val got = Round11Queries.x303OovRate(spark,
      docsDir(Seq((1L, text, "en", "s", 9999L)))).head()
    // vocab = common + t0000..t0998; OOV = t0999..t1004 (6 singleton types)
    assert((got.getLong(1), got.getLong(2), got.getLong(3))
      == ((1055L, 6L, 6L)))
    assert(got.getDouble(4) == r(6.0 / 1055.0))
  }

  test("x304: chi-square terms are exact-integer ratios on the profile grid") {
    val rows = Seq((1L, "the the a", "en", "sa", 9L),
      (2L, "the a a a", "en", "sb", 9L))
    val out = Round11Queries.x304StopwordChi2(spark, docsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getLong(3))).toMap
    // profile: the 3, a 4; N = 7
    val sa = BigDecimal(r(25.0 / 63.0)) + BigDecimal(r(25.0 / 84.0))
    val sb = BigDecimal(r(25.0 / 84.0)) + BigDecimal(r(25.0 / 112.0))
    assert(out("sa") == ((3L, sa.toDouble, 4L)))
    assert(out("sb") == ((4L, sb.toDouble, 4L)))
  }

  test("x305: the 99.95% cut is the integer inequality; the tail is dropped") {
    val rows = Seq((1L, Seq.fill(10000)("a").mkString(" ") + " z", "en", "s", 1L))
    val got = Round11Queries.x305CharCoverage(spark, docsDir(rows)).head()
    // chars: a x10000, z x1 -> cut at rank 1 (10000*10000 >= 9995*10001)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(4))
      == ((2L, 10001L, 1L, 1L)))
    assert(got.getDouble(3) == r(10000.0 / 10001.0))
  }

  test("x275: duplicate rate lands in the length quartile of the dup docs") {
    // lengths 1..8 -> quartiles (1,1,2,2,3,3,4,4); docs 7 and 8 share a
    // token SET (order/multiplicity-insensitive fingerprint)
    val rows = (1L to 6L).map(i =>
      (i, s"u$i v$i", "en", "s", i)) ++ Seq(
      (7L, "dup set x", "en", "s", 7L),
      (8L, "x set dup dup", "en", "s", 8L))
    val out = Round11Queries.x275DupByLength(spark, docsDir(rows))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(5))).toMap
    assert(out(1L) == ((2L, 0L, 0.0)) && out(2L) == ((2L, 0L, 0.0)) &&
      out(3L) == ((2L, 0L, 0.0)))
    assert(out(4L) == ((2L, 2L, 1.0)))
  }
}
