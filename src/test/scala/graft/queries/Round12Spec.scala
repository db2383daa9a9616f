package graft.queries

import java.sql.Timestamp

import graft.SparkSpec

/** Round-12 query semantics the sf fixtures alone don't pin: richness
  * and concentration arithmetic on hand-countable vocabularies
  * (x306/x307/x318), the agreement-family statistics on constructed
  * contingency cells (x308/x309/x310/x314), the Lorenz decile cut
  * (x311), the time-series diagnostics on tiny exact series
  * (x312/x323/x324, x313 vs the declared x208 output), distances and
  * effect sizes with closed-form answers (x315/x316), the deterministic
  * priority order and estimator identity (x317), blocking recall on a
  * constructed miss (x319), gram diversity (x320), the Gopher integer
  * inequalities at their boundaries (x321), the 1-bit signature on an
  * identical pair (x322), Neyman largest-remainder rounding (x325) and
  * the silhouette on exact 3-4-5 cosines (x326).
  */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = tmpDir("r12").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** (event_id, day, value) — one event per row at midnight + event_id
    * micros of the given UTC day. */
  private def eventsDir(rows: Seq[(Long, Long, Double)]): String = {
    val dir = tmpDir("r12ev").toString
    rows.map { case (id, day, v) =>
      (id, new Timestamp(day * 86400000L + id), 1L, "t", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def embDir(rows: Seq[(Long, Seq[Float])]): String = {
    val dir = tmpDir("r12emb").toString
    rows.map { case (id, e) => (id, e, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def r(x: Double, digits: Int = 6): Double = {
    val p = math.pow(10, digits)
    math.floor(x * p + 0.5) / p
  }

  test("x306: richness panel equals the hand count (a a b)") {
    val got = Round12Queries.x306LexicalRichness(spark,
      docsDir(Seq((1L, "a a b", "en", "s", 5L)))).head()
    // types {a:2, b:1}: V=2 N=3 V1=1 V2=1; K = 1e4*(4+1-3)/9
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4))
      == ((2L, 3L, 1L, 1L)))
    assert(got.getDouble(5) == 0.5)
    assert(got.getDouble(6) == r(20000.0 / 9.0))
  }

  test("x307: Simpson chain on (a a b); all-hapax source pins NULL") {
    val out = Round12Queries.x307SimpsonConcentration(spark,
      docsDir(Seq((1L, "a a b", "en", "sa", 5L), (2L, "x y", "en", "sb", 3L))))
      .collect().map(x => x.getString(0) -> x).toMap
    val sa = out("sa")
    // coll = 2, N(N-1) = 6
    assert(sa.getDouble(3) == r(2.0 / 6.0) && sa.getDouble(4) == 3.0)
    assert(sa.getDouble(5) == r(2.0 / 3.0)) // berger: max c = 2, N = 3
    val sb = out("sb")
    assert(sb.isNullAt(3) && sb.isNullAt(4)) // all hapax: coll = 0
  }

  private def doc(id: Long, tokens: Int, chars: Long, lang: String = "en") =
    (id, Seq.fill(tokens)("w").mkString(" "), lang, "s", chars)

  test("x308: McNemar counts the discordant cells only") {
    // n11=1, n10=2 (long+few tokens), n01=1 (short+many), n00=1
    val rows = Seq(doc(1, 30, 150), doc(2, 3, 150), doc(3, 3, 150),
      doc(4, 30, 50), doc(5, 3, 50))
    val got = Round12Queries.x308Mcnemar(spark, docsDir(rows)).head()
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4))
      == ((1L, 2L, 1L, 1L)))
    assert(got.getDouble(5) == r(1.0 / 3.0)) // (2-1)^2/(2+1)
  }

  test("x309: 2x2 grid with uniform margins gives chi2=2, V=0.5") {
    val rows = Seq(
      (1L, "t", "en", "sa", 5L), (2L, "t", "en", "sa", 5L),
      (3L, "t", "en", "sa", 5L), (4L, "t", "fr", "sa", 5L),
      (5L, "t", "en", "sb", 5L), (6L, "t", "fr", "sb", 5L),
      (7L, "t", "fr", "sb", 5L), (8L, "t", "fr", "sb", 5L))
    val got = Round12Queries.x309CramersV(spark, docsDir(rows)).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((8L, 2L, 2L)))
    // each cell term = (o*8 - 16)^2 / (16*8); cells 3,1,1,3 -> 4 * 0.5
    assert(got.getDouble(3) == 2.0)
    assert(got.getDouble(4) == 0.5) // sqrt(2 / (8 * 1))
  }

  test("x310: MI term chain equals the per-cell recompute") {
    val rows = Seq(
      (1L, "t", "en", "sa", 150L), (2L, "t", "en", "sa", 150L),
      (3L, "t", "en", "sa", 150L), (4L, "t", "en", "sa", 50L),
      (5L, "t", "en", "sb", 150L), (6L, "t", "en", "sb", 50L),
      (7L, "t", "en", "sb", 50L), (8L, "t", "en", "sb", 50L))
    val out = Round12Queries.x310MutualInformation(spark, docsDir(rows))
      .collect()
    assert(out.length == 4)
    // cells (sa,1)=3 (sa,0)=1 (sb,1)=1 (sb,0)=3; margins 4/4 each, N=8
    val tBig = r(3.0 / 8.0 * math.log(3.0 * 8 / (4.0 * 4)))
    val tSmall = r(1.0 / 8.0 * math.log(1.0 * 8 / (4.0 * 4)))
    val mi = (BigDecimal(tBig) * 2 + BigDecimal(tSmall) * 2).toDouble
    out.foreach { x =>
      val expect = if (x.getLong(2) == 3L) tBig else tSmall
      assert(x.getDouble(3) == expect)
      assert(x.getDouble(4) == mi)
    }
  }

  test("x311: decile cut and cumulative shares on a 4-type vocabulary") {
    val got = Round12Queries.x311VocabLorenz(spark,
      docsDir(Seq((1L, "a a a a b b c d", "en", "s", 15L))))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getDouble(4), x.getDouble(5)))
    // counts a4 b2 c1 d1, V=4, N=8: ranks 1..4 -> deciles 1,3,6,8
    assert(got.toSeq == Seq(
      (1L, 1L, 4L, 4L, 0.5, 0.5),
      (3L, 1L, 2L, 6L, 0.25, 0.75),
      (6L, 1L, 1L, 7L, 0.125, 0.875),
      (8L, 1L, 1L, 8L, 0.125, 1.0)))
  }

  test("x312: runs/signs/z equal the hand chain (x = 1,3,2,2,4)") {
    val got = Round12Queries.x312RunsTest(spark, eventsDir(Seq(
      (1L, 0L, 1.0), (2L, 1L, 3.0), (3L, 2L, 2.0), (4L, 3L, 2.0),
      (5L, 4L, 4.0)))).head()
    // deltas +,-,0(skip),+ -> signs [+,-,+]: n=3 n+=2 n-=1 R=3
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((3L, 2L, 1L, 3L)))
    val er = 1.0 + 2.0 * 2 * 1 / 3.0
    val vr = 2.0 * 2 * 1 * (2.0 * 2 * 1 - 3) / (9.0 * 2)
    assert(got.getDouble(4) == r(er))
    assert(got.getDouble(5) == r(vr))
    assert(got.getDouble(6) == r((3 - er) / math.sqrt(vr)))
  }

  test("x313: Q rides x208's declared r_k and the day count") {
    val dir = eventsDir((0 until 12).map(i =>
      (i.toLong + 1, i.toLong, ((i * 7) % 5 + 1).toDouble)))
    val acf = ExtendedQueries.x208Acf(spark, dir)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    val nd = 12.0
    var cum = BigDecimal(0)
    val expected = (1 to 7).map { k =>
      cum += BigDecimal(r(acf(k) * acf(k) / (nd - k)))
      k.toLong -> r(nd * (nd + 2) * cum.toDouble)
    }.toMap
    val got = Round12Queries.x313LjungBox(spark, dir)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(got == expected)
  }

  test("x314: Cochran's Q equals the closed form on 4 hand docs") {
    val rows = Seq(
      (1L, Seq.fill(30)("w").mkString(" "), "en", "s", 150L),
      (2L, Seq.fill(30)("w").mkString(" "), "en", "s", 150L),
      (3L, Seq.fill(3)("w").mkString(" "), "fr", "s", 150L),
      (4L, Seq.fill(3)("w").mkString(" "), "fr", "s", 50L))
    val got = Round12Queries.x314CochranQ(spark, docsDir(rows)).head()
    // G = (3,2,2), L = (3,3,1,0): num = 2*(3*17-49)=4, den = 21-19=2
    assert((got.getLong(1), got.getLong(2), got.getLong(3)) == ((3L, 2L, 2L)))
    assert(got.getDouble(4) == 2.0)
  }

  test("x315: disjoint single-bucket sources give BC=r6(sqrt(.5)), TVD=.5") {
    val rows = Seq(
      (1L, "t", "en", "sa", 150L), (2L, "t", "en", "sa", 150L),
      (3L, "t", "en", "sb", 50L), (4L, "t", "en", "sb", 50L))
    val out = Round12Queries.x315HistDistances(spark, docsDir(rows)).collect()
    out.foreach { x =>
      val bc = r(math.sqrt(0.5))
      assert(x.getDouble(2) == bc)
      assert(x.getDouble(3) == r(math.sqrt(1.0 - bc)))
      assert(x.getDouble(4) == 0.5)
    }
  }

  test("x316: Cliff's delta with a tie equals the pair count") {
    val rows = Seq((1L, "t", "en", "sa", 2L), (2L, "t", "en", "sa", 3L),
      (3L, "t", "en", "sb", 2L))
    val out = Round12Queries.x316CliffsDelta(spark, docsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // sa vs sb: pairs (2,2)=0, (3,2)=+1 -> 1/2; sb vs sa: -1/2
    assert(out("sa") == ((2L, 1L, 0.5)))
    assert(out("sb") == ((1L, 2L, -0.5)))
  }

  test("x317: priorities match an independent md5 recompute; small corpus has tau=0") {
    val rows = (1L to 5L).map(i => (i, "t", "en", "s", i * 10L))
    val out = Round12Queries.x317PrioritySample(spark, docsDir(rows))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4),
          x.getDouble(5), x.getLong(6))).toMap
    assert(out.size == 5)
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4503599627370496.0
    }
    var est = BigDecimal(0)
    for (i <- 1L to 5L) est += BigDecimal(r(i * 10.0))
    for (i <- 1L to 5L) {
      val (w, pri, tau, wEst, estTotal, trueTotal) = out(i)
      assert(w == i * 10L)
      assert(pri == r(i * 10.0 / u(i)))
      assert(tau == 0.0)               // n <= k: no threshold row
      assert(wEst == r(i * 10.0))      // max(w, 0)
      assert(estTotal == est.toDouble) // estimator == truth when all kept
      assert(trueTotal == 150L)
    }
  }

  test("x318: Chao1 and its V2=0 fallback") {
    val out = Round12Queries.x318Chao1(spark, docsDir(Seq(
      (1L, "a b c c", "en", "sa", 7L), (2L, "a b", "en", "sb", 3L))))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(out("sa") == ((3L, 2L, 1L, 5.0)))  // 3 + 4/2
    assert(out("sb") == ((2L, 2L, 0L, 3.0)))  // 2 + 2*1/2
  }

  test("x319: a reordered duplicate escapes its block — completeness 1/3") {
    val rows = Seq((1L, "aaaa bbbb", "en", "s", 9L),
      (2L, "bbbb aaaa", "en", "s", 9L), (3L, "aaaa bbbb", "en", "s", 9L))
    val got = Round12Queries.x319PairCompleteness(spark, docsDir(rows)).head()
    // one fp group of 3 -> 3 true pairs; blocks split 2/1 -> 1 caught,
    // 1 candidate; reduction = 1 - 1/3
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((3L, 3L, 1L)))
    assert(got.getDouble(3) == r(1.0 / 3.0))
    assert(got.getLong(4) == 1L)
    assert(got.getDouble(5) == r(2.0 / 3.0))
  }

  test("x320: distinct-1/2/3 on 'a b a b'") {
    val got = Round12Queries.x320DistinctN(spark,
      docsDir(Seq((1L, "a b a b", "en", "s", 7L))))
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))
    assert(got.toSeq == Seq((1L, 4L, 2L, 0.5), (2L, 3L, 2L, r(2.0 / 3.0)),
      (3L, 2L, 2L, 1.0)))
  }

  test("x321: each Gopher rule fails exactly where constructed") {
    val w50ok = (Seq.fill(48)("abcd") :+ "the" :+ "a").mkString(" ")
    val w10 = (Seq.fill(8)("abcd") :+ "the" :+ "a").mkString(" ")
    val wSym = (Seq.fill(28)("abcd") ++ Seq("the", "a") ++
      Seq.fill(20)("ab1")).mkString(" ")
    val rows = Seq((1L, w50ok, "en", "s", 1L), (2L, w10, "en", "s", 1L),
      (3L, wSym, "en", "s", 1L))
    val got = Round12Queries.x321GopherRules(spark, docsDir(rows)).head()
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4),
      got.getLong(5), got.getLong(6)) == ((3L, 2L, 3L, 2L, 3L, 1L)))
    assert(got.getDouble(7) == r(1.0 / 3.0))
  }

  test("x322: an identical pair has all 16 bits equal and zero error") {
    val rows = Seq((1L, "x y z w v", "en", "s", 9L),
      (2L, "x y z w v", "en", "s", 9L),
      (3L, "p q r s t u", "en", "s", 11L))
    val out = Round12Queries.x322BbitMinhash(spark, docsDir(rows)).collect()
    assert(out.length == 1) // only the identical pair shares a band
    val x = out.head
    assert((x.getLong(0), x.getLong(1), x.getLong(2)) == ((1L, 2L, 16L)))
    assert(x.getDouble(3) == 1.0 && x.getDouble(4) == 1.0)
    assert(x.getDouble(5) == 1.0 && x.getDouble(6) == 0.0)
  }

  test("x323: S, tie-free variance, continuity z and lower-median Sen slope") {
    val got = Round12Queries.x323MannKendall(spark, eventsDir(Seq(
      (1L, 0L, 1.0), (2L, 1L, 2.0), (3L, 2L, 4.0)))).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((3L, 3L, 3L)))
    val varS = 3.0 * 2 * 11 / 18
    assert(got.getDouble(3) == r(varS))
    assert(got.getDouble(4) == r(2.0 / math.sqrt(varS)))
    // micros slopes sorted: [1e6, 1.5e6, 2e6], lower median = rank 2
    assert(got.getDouble(5) == 1500000.0)
  }

  test("x324: DW equals the exact decimal chain on x = 1,2,4") {
    val got = Round12Queries.x324DurbinWatson(spark, eventsDir(Seq(
      (1L, 0L, 1.0), (2L, 1L, 2.0), (3L, 2L, 4.0)))).head()
    assert(got.getLong(0) == 3L)
    assert(got.getDouble(1) == 1.5) // b = (3*10-3*7)/(3*5-9)
    val a6 = r((7.0 - 1.5 * 3) / 3)
    val e = Seq(r(1 - a6), r(2 - a6 - 1.5), r(4 - a6 - 3))
      .map(BigDecimal(_))
    val see = e.map(x => x * x).sum
    val sdd = (e(1) - e(0)).pow(2) + (e(2) - e(1)).pow(2)
    assert(got.getDouble(2) == r((sdd / see).toDouble))
  }

  test("x325: Neyman weights and largest-remainder rounding sum to 1000") {
    val rows = Seq(
      (1L, "t", "en", "sa", 0L), (2L, "t", "en", "sa", 2L),
      (3L, "t", "en", "sb", 1L), (4L, "t", "en", "sb", 4L),
      (5L, "t", "en", "sc", 2L), (6L, "t", "en", "sc", 3L))
    val out = Round12Queries.x325NeymanAllocation(spark, docsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getDouble(2), x.getLong(3), x.getLong(4))).toMap
    // s: sa 1.0, sb 1.5, sc 0.5 -> weights 2, 3, 1; raw 333.33/500/166.67
    assert(out("sa") == ((1.0, 333L, 333L)))
    assert(out("sb") == ((1.5, 500L, 500L)))
    assert(out("sc") == ((0.5, 166L, 167L))) // largest remainder takes the +1
  }

  test("x327: alpha equals the closed form on the x314 fixture") {
    val rows = Seq(
      (1L, Seq.fill(30)("w").mkString(" "), "en", "s", 150L),
      (2L, Seq.fill(30)("w").mkString(" "), "en", "s", 150L),
      (3L, Seq.fill(3)("w").mkString(" "), "fr", "s", 150L),
      (4L, Seq.fill(3)("w").mkString(" "), "fr", "s", 50L))
    val got = Round12Queries.x327KrippendorffAlpha(spark, docsDir(rows)).head()
    // n1 per doc = (3,3,1,0) -> S = 0+0+1+0 = 1; n=12, p1=7, n0=5
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((4L, 12L, 7L, 1L)))
    assert(got.getDouble(4) == r(1.0 - 11.0 * 1 / (7.0 * 5)))
  }

  test("x328: Gumbel keys match an independent md5 recompute; rank order holds") {
    val rows = (1L to 5L).map(i => (i, "t", "en", "s", i * 10L))
    val out = Round12Queries.x328GumbelTopk(spark, docsDir(rows)).collect()
    assert(out.length == 5)
    val md = java.security.MessageDigest.getInstance("MD5")
    def g6(id: Long): Double = {
      val hex = md.digest(s"g:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4503599627370496.0
      r(math.log(id * 10.0) - math.log(-math.log(u)))
    }
    val expected = (1L to 5L).map(i => (i, g6(i)))
      .sortBy { case (id, g) => (-g, id) }
    out.zip(expected).zipWithIndex.foreach { case ((row, (id, g)), i) =>
      assert(row.getLong(0) == i + 1L)
      assert(row.getLong(1) == id)
      assert(row.getDouble(3) == g)
    }
  }

  test("x329: trimmed and winsorized means at exact order statistics; k=0 degenerates") {
    val sa = Seq(0L, 10L, 20L, 30L, 40L, 50L, 60L, 70L, 81L, 900L)
      .zipWithIndex.map { case (v, i) => (i + 1L, "t", "en", "sa", v) }
    val sb = Seq(5L, 7L, 9L).zipWithIndex.map { case (v, i) =>
      (i + 100L, "t", "en", "sb", v) }
    val out = Round12Queries.x329WinsorizedMean(spark, docsDir(sa ++ sb))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
          x.getDouble(5), x.getDouble(6))).toMap
    // sa: k=1, cuts at ranks 2/9 -> 10/81; trimmed = 361/8, win = 452/10
    assert(out("sa") == ((10L, 1L, 10L, 81L, r(361.0 / 8), r(452.0 / 10))))
    // sb: k=0 -> cuts are min/max, both means = plain mean
    assert(out("sb") == ((3L, 0L, 5L, 9L, 7.0, 7.0)))
  }

  test("x330: dispersion is one integer division (daily counts 1,2,3)") {
    val got = Round12Queries.x330PoissonDispersion(spark, eventsDir(Seq(
      (1L, 0L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0),
      (4L, 2L, 1.0), (5L, 2L, 1.0), (6L, 2L, 1.0)))).head()
    assert((got.getLong(0), got.getLong(1)) == ((3L, 6L)))
    assert(got.getDouble(2) == 2.0)
    assert(got.getDouble(3) == 1.0) // (3*14-36)/6
    assert(got.getDouble(4) == 0.5)
    assert(got.getLong(5) == 2L)
  }

  test("x331: zero weekdays still owe their chi-square terms") {
    // day 0 = Thursday (dow 3), day 1 = Friday (dow 4)
    val got = Round12Queries.x331DowSeasonality(spark, eventsDir(Seq(
      (1L, 0L, 1.0), (2L, 0L, 1.0), (3L, 1L, 1.0)))).collect()
    assert(got.length == 7)
    val byDow = got.map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(byDow == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 2L, 4L -> 1L,
      5L -> 0L, 6L -> 0L))
    val chi = (BigDecimal(r(121.0 / 21)) + BigDecimal(r(16.0 / 21)) +
      BigDecimal(r(9.0 / 21)) * 5).toDouble
    got.foreach(x => assert(x.getDouble(3) == chi && x.getLong(4) == 6L))
  }

  test("x332/x333: identical-doc candidates land in bin 10 with zero estimator error") {
    val t1 = "x y z w v u"
    val t2 = "p q r s t u v"
    val rows = Seq((1L, t1, "en", "s", 11L), (2L, t1, "en", "s", 11L),
      (3L, t1, "en", "s", 11L), (4L, t2, "en", "s", 13L),
      (5L, t2, "en", "s", 13L))
    val dir = docsDir(rows)
    val sweep = Round12Queries.x332JaccardSweep(spark, dir).collect()
    assert(sweep.length == 1)
    assert((sweep.head.getLong(0), sweep.head.getLong(2),
      sweep.head.getLong(3), sweep.head.getDouble(4)) == ((10L, 4L, 4L, 1.0)))
    val ks = Round12Queries.x333MinhashKSweep(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        x.getDouble(3)))
    assert(ks.toSeq == Seq((4L, 4L, 0.0, 0.0), (8L, 4L, 0.0, 0.0),
      (16L, 4L, 0.0, 0.0)))
  }

  test("x334: HHI/CR4 on both bases for a 3+1 doc, 6+4 token split") {
    val rows = Seq((1L, "w w", "en", "sa", 3L), (2L, "w w", "en", "sa", 3L),
      (3L, "w w", "en", "sa", 3L), (4L, "w w w w", "en", "sb", 7L))
    val out = Round12Queries.x334HhiConcentration(spark, docsDir(rows))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4),
          x.getDouble(5))).toMap
    assert(out("docs") == ((2L, 4L, 0.625, 1.6, 1.0)))
    assert(out("tokens") == ((2L, 10L, 0.52, r(100.0 / 52), 1.0)))
  }

  test("x335: the bit set and measured FPR match a driver-side brute force") {
    val rows = Seq((1L, "alpha text", "en", "s", 10L),
      (2L, "beta text", "en", "s", 9L))
    val got = Round12Queries.x335BloomFpr(spark, docsDir(rows)).head()
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def pos(key: String, i: Int): Long =
      java.lang.Long.parseLong(md5hex(s"$i:$key").substring(0, 8), 16) % 32768
    val fps = Seq("alpha text", "beta text").map(md5hex)
    val bits = (for (f <- fps; i <- 0 until 3) yield pos(f, i)).toSet
    val fp = (0 until 1000).count(id =>
      (0 until 3).forall(i => bits(pos(s"probe:$id", i))))
    assert(got.getLong(0) == 2L)
    assert(got.getLong(3) == bits.size.toLong)
    assert(got.getLong(4) == fp.toLong)
    assert(got.getDouble(5) == r(fp / 1000.0))
    assert(got.getDouble(6) ==
      r(math.pow(1.0 - math.exp(-3.0 * 2 / 32768.0), 3.0)))
  }

  test("x336: clip bounds are exact rank statistics on a 200-vector ramp") {
    val rows = (1L to 200L).map(i =>
      i -> Seq.fill(64)(i / 100.0f))
    val out = Round12Queries.x336EmbeddingClipBounds(spark, embDir(rows))
      .collect()
    assert(out.length == 64)
    out.foreach { x =>
      assert(x.getLong(1) == 200L)
      assert(x.getDouble(2) == 0.02)  // rank 2 of the ramp
      assert(x.getDouble(3) == 1.98)  // rank 198
      assert(x.getDouble(4) == 0.985) // 197/200 in range
    }
  }

  test("x337: a clean split finds threshold 10 with zero impurity") {
    val rows = Seq((1L, "t", "en", "s", 10L), (2L, "t", "en", "s", 10L),
      (3L, "t", "fr", "s", 20L), (4L, "t", "fr", "s", 20L))
    val got = Round12Queries.x337GiniStump(spark, docsDir(rows)).head()
    assert((got.getLong(0), got.getLong(1)) == ((4L, 2L)))
    assert(got.getDouble(2) == 0.5)   // base gini at p = .5
    assert(got.getLong(3) == 10L)     // threshold
    assert(got.getDouble(4) == 0.0)   // perfect split
    assert((got.getLong(5), got.getLong(6)) == ((2L, 2L)))
  }

  test("x338: split cells and chi2 match the md5 recompute; empty splits owe their terms") {
    // 5 distinct docs -> 5 singleton components (component = doc_id)
    val rows = (1L to 5L).map(i => (i, s"unique$i text$i", "en", "s", 10L))
    val got = Round12Queries.x338SrmCheck(spark, docsDir(rows)).collect()
    assert(got.length == 3)
    val md = java.security.MessageDigest.getInstance("MD5")
    def split(c: Long): String = {
      val h = java.lang.Long.parseLong(md.digest(s"split|$c".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8), 16) % 10
      if (h <= 7) "train" else if (h == 8) "val" else "test"
    }
    val exp = (1L to 5L).map(split).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val w = Map("train" -> 8L, "val" -> 1L, "test" -> 1L)
    val chi = w.keys.toSeq.sorted.map { s =>
      val o = exp.getOrElse(s, 0L)
      BigDecimal(r(math.pow(10.0 * o - w(s) * 5, 2) / (10.0 * w(s) * 5)))
    }.sum.toDouble
    got.foreach { x =>
      assert(x.getLong(1) == exp.getOrElse(x.getString(0), 0L))
      assert(x.getDouble(4) == chi)
    }
  }

  test("x339: novelty is 1 for first instances, 0 for repeats, in crawl order") {
    val rows = (1L to 5L).map(i => (i, s"u$i w$i", "en", "s", 5L)) ++
      (6L to 10L).map(i => (i, s"u${i - 5} w${i - 5}", "en", "s", 5L))
    val got = Round12Queries.x339NoveltyDecay(spark, docsDir(rows))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3)))
    assert(got.length == 10) // n=10: one doc per decile
    got.foreach { case (dec10, n, novel, rate) =>
      val expect = if (dec10 <= 5) 1L else 0L
      assert(n == 1L && novel == expect && rate == expect.toDouble)
    }
  }

  test("x340: identical candidate pairs land in distance bin 0") {
    val t1 = "x y z w v u"
    val rows = Seq((1L, t1, "en", "s", 11L), (2L, t1, "en", "s", 11L))
    val got = Round12Queries.x340EditHistogram(spark, docsDir(rows)).collect()
    assert(got.length == 1)
    assert((got.head.getLong(0), got.head.getLong(2),
      got.head.getDouble(3)) == ((0L, 1L, 1.0)))
  }

  test("x341: bigram KL equals the smoothed hand recompute; self-KL is 0") {
    val rows = Seq((1L, "a b c", "en", "sa", 5L), (2L, "a b a b", "en", "sb", 7L))
    val out = Round12Queries.x341BigramKl(spark, docsDir(rows))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    // corpus bigrams: ab 3, ba 1, bc 1; V = 3, N = 5; Nsa = 2, Nsb = 3
    val klSa = (BigDecimal(r(0.4 * math.log(2.0 * 8 / (4.0 * 5)))) +
      BigDecimal(r(0.2 * math.log(1.0 * 8 / (2.0 * 5)))) +
      BigDecimal(r(0.4 * math.log(2.0 * 8 / (2.0 * 5))))).toDouble
    val klSb = (BigDecimal(r(0.5 * math.log(3.0 * 8 / (4.0 * 6)))) +
      BigDecimal(r(1.0 / 3 * math.log(2.0 * 8 / (2.0 * 6)))) +
      BigDecimal(r(1.0 / 6 * math.log(1.0 * 8 / (2.0 * 6))))).toDouble
    assert(out("sa") == ((2L, klSa)))
    assert(out("sb") == ((3L, klSb)))
  }

  test("x342: AUC equals the tie-aware pair count (7/8)") {
    val rows = Seq((1L, "the the", "en", "s", 7L), (2L, "x the", "en", "s", 5L),
      (3L, "x y", "fr", "s", 3L), (4L, "the y", "fr", "s", 5L))
    val got = Round12Queries.x342AucRank(spark, docsDir(rows)).head()
    assert((got.getLong(0), got.getLong(1)) == ((2L, 2L)))
    // pairs: (1.0 vs 0) + (1.0 vs .5) + (.5 vs 0) + (.5 vs .5 tie = .5)
    assert(got.getDouble(2) == 0.875)
  }

  test("x343: branching entropy equals the hand chain; successor-free anchors drop") {
    val out = Round12Queries.x343SuccessorEntropy(spark,
      docsDir(Seq((1L, "a b a c", "en", "s", 7L))))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    // successors: a -> {b, c}, b -> {a}; c never continues (excluded)
    val ha = (BigDecimal(r(0.5 * math.log(2.0))) * 2).toDouble
    assert(out("a") == ((2L, 2L, 2L, ha)))
    assert(out("b") == ((1L, 1L, 1L, 0.0)))
    assert(!out.contains("c"))
  }

  test("x344: all-dups-longer gives AUC 1 and rank-biserial 1") {
    val rows = Seq((1L, "x x", "en", "s", 10L), (2L, "x x", "en", "s", 20L),
      (3L, "y z", "en", "s", 5L))
    val got = Round12Queries.x344RankBiserial(spark, docsDir(rows)).head()
    assert((got.getLong(0), got.getLong(1)) == ((2L, 1L)))
    assert(got.getDouble(2) == 1.0 && got.getDouble(3) == 1.0)
  }

  test("x345: char entropy of 'aab' equals the two-term chain") {
    val got = Round12Queries.x345CharEntropy(spark,
      docsDir(Seq((1L, "a a b", "en", "s", 5L)))).head()
    val h = (BigDecimal(r(2.0 / 3 * math.log(1.5))) +
      BigDecimal(r(1.0 / 3 * math.log(3.0)))).toDouble
    assert((got.getLong(1), got.getLong(2)) == ((3L, 2L)))
    assert(got.getDouble(3) == h)
  }

  test("x346: common-prefix fold over the sorted vocabulary (abc/abd/x)") {
    val got = Round12Queries.x346FrontCoding(spark,
      docsDir(Seq((1L, "abc abd x", "en", "s", 9L)))).head()
    // sorted: abc, abd, x; prefixes: (abd|abc)=2, (x|abd)=0
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((3L, 7L, 2L, 5L)))
    assert(got.getDouble(4) == r(2.0 / 7))
  }

  test("x347: the two-source two-word case gives delta 2") {
    val rows = Seq((1L, "a a b", "en", "sa", 5L), (2L, "a b b", "en", "sb", 5L))
    val got = Round12Queries.x347BurrowsDelta(spark, docsDir(rows)).head()
    // f(sa) = (.666667, .333333), f(sb) mirrored; z = (+1, -1) vs (-1, +1)
    val f1 = r(2.0 / 3); val f2 = r(1.0 / 3)
    val mu = r((BigDecimal(f1) + BigDecimal(f2)).toDouble / 2)
    val sff = (BigDecimal(f1) * BigDecimal(f1) +
      BigDecimal(f2) * BigDecimal(f2)).toDouble
    val sd = r(math.sqrt(sff / 2 - mu * mu))
    val zHi = r((f1 - mu) / sd); val zLo = r((f2 - mu) / sd)
    // |z diff| is an exact decimal subtraction in the query (no rounding)
    val delta = r(((BigDecimal(zHi) - BigDecimal(zLo)).abs * 2).toDouble / 2)
    assert((got.getString(0), got.getString(1), got.getLong(2))
      == (("sa", "sb", 2L)))
    assert(got.getDouble(3) == delta)
  }

  test("x326: silhouette on exact 3-4-5 cosines") {
    def basis(i: Int): Seq[Float] =
      Seq.tabulate(64)(d => if (d == i - 1) 1.0f else 0.0f)
    val rows = (1L to 8L).map(i => i -> basis(i.toInt)) :+
      (9L -> basis(1).map(_ * 2)) :+
      (10L -> Seq.tabulate(64)(d =>
        if (d == 0) 3.0f else if (d == 1) 4.0f else 0.0f))
    val out = Round12Queries.x326Silhouette(spark, embDir(rows))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(out(1L) == ((2L, 1.0, 0.0, 1.0)))  // c1 and its double
    // vec10: own c2 at cos .8, second c1 at .6 -> s = .2/.4 = .5
    assert(out(2L) == ((2L, 0.9, 0.3, 0.75)))
    (3L to 8L).foreach(c => assert(out(c) == ((1L, 1.0, 0.0, 1.0))))
  }
}
