package graft.queries

import graft.SparkSpec
import java.sql.Timestamp

/** Hand-computed oracles for the round-9 statistical/graph audit family
  * (x205–x220) on constructed fixtures — the semantics proof independent
  * of the DuckDB gate (which pins exactness, not textbook meaning):
  * Spearman's tie handling, Kruskal-Wallis's H on a textbook split, the
  * CUSUM argmax location, the alternating-series ACF signs, the Gini
  * extremes (0 and (n−1)/n), a known 1-triangle backbone, the ntile
  * boundary/percent_rank values, k-anonymity class arithmetic, JSD and
  * entropy-rate against closed-form values.
  */
class StatAuditSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    tmpDir(prefix).toString

  private def writeLineitem(dir: String, rows: Seq[(Double, Double)]): Unit =
    rows.zipWithIndex
      .map { case ((q, p), i) => (i.toLong + 1, 1, q, p, "A") }
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, Long, String, Double)]): Unit =
    rows.map { case (id, day, us, t, v) =>
      (id, new Timestamp(day * 86400000L + us / 1000), 1L, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("x205: monotone pairs give rho ±1; the tied hand case gives -0.5") {
    val dir = tmp("x205")
    writeLineitem(dir, Seq(1.0 -> 10.0, 2.0 -> 20.0, 3.0 -> 30.0,
      4.0 -> 40.0, 5.0 -> 50.0))
    val up = ExtendedQueries.x205Spearman(spark, dir)
      .select("n", "rho").as[(Long, Double)].head()
    assert(up == ((5L, 1.0)))
    writeLineitem(dir, Seq(1.0 -> 50.0, 2.0 -> 40.0, 3.0 -> 30.0,
      4.0 -> 20.0, 5.0 -> 10.0))
    assert(ExtendedQueries.x205Spearman(spark, dir)
      .select("rho").as[Double].head() == -1.0)
    // q = [1,1,2], p = [10,20,10]: tie-averaged ranks a = [1.5,1.5,3],
    // b = [1.5,3,1.5] → Pearson over ranks = -0.5 (hand-computed)
    writeLineitem(dir, Seq(1.0 -> 10.0, 1.0 -> 20.0, 2.0 -> 10.0))
    assert(ExtendedQueries.x205Spearman(spark, dir)
      .select("rho").as[Double].head() == -0.5)
  }

  test("x206: textbook two-group split — H = 27/7, mean ranks 2 and 5") {
    val dir = tmp("x206")
    // A = {1,2,3}, B = {10,11,12}: ranks 1-6, no ties
    writeEvents(dir, Seq(
      (1L, 0L, 0L, "A", 1.0), (2L, 0L, 1000000L, "A", 2.0),
      (3L, 0L, 2000000L, "A", 3.0), (4L, 0L, 3000000L, "B", 10.0),
      (5L, 0L, 4000000L, "B", 11.0), (6L, 0L, 5000000L, "B", 12.0)))
    val out = ExtendedQueries.x206KruskalWallis(spark, dir)
      .select("event_type", "nj", "mean_rank", "h", "h_tie")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    val h = math.floor(27.0 / 7.0 * 1e6 + 0.5) / 1e6 // 3.857143
    assert(out == Seq(("A", 3L, 2.0, h, h), ("B", 3L, 5.0, h, h)))
  }

  test("x207: step series locates the changepoint at the level shift") {
    val dir = tmp("x207")
    // days 0..5, one event/day, values 10,10,10,20,20,20 → S' (n-scaled,
    // micro units) = [-30,-60,-90,-60,-30,0]e6: argmax |S'| at day 2,
    // the last pre-shift day — the CUSUM changepoint convention
    writeEvents(dir, (0 to 5).map(d =>
      ((d + 1).toLong, d.toLong, 0L, "A", if (d < 3) 10.0 else 20.0)))
    val top = ExtendedQueries.x207Cusum(spark, dir)
      .select("rank", "day", "s_scaled").as[(Long, Long, Long)].collect().toSeq
    assert(top.head == ((1L, 2L, -90000000L)))
    assert(top.map(_._2).toSet == Set(1L, 2L, 3L, 4L, 0L)) // |S'| order
  }

  test("x208: alternating series — negative odd lags, positive even lags") {
    val dir = tmp("x208")
    // x = [1,2,1,2,1,2] daily: d = [-3,3,-3,3,-3,3]e6, den = 54e12
    writeEvents(dir, (0 to 5).map(d =>
      ((d + 1).toLong, d.toLong, 0L, "A", if (d % 2 == 0) 1.0 else 2.0)))
    val r = ExtendedQueries.x208Acf(spark, dir)
      .select("lag", "n_pairs", "r").collect()
      .map(row => row.getLong(0) ->
        ((row.getLong(1), if (row.isNullAt(2)) None else Some(row.getDouble(2)))))
      .toMap
    assert(r(1L) == ((5L, Some(-0.833333))))  // -45/54 round6
    assert(r(2L) == ((4L, Some(0.666667))))   // 36/54 round6
    assert(r(3L)._2.get < 0 && r(4L)._2.get > 0)
    // beyond the series length there are no pairs: empty sum → null r,
    // the same NULL DuckDB's empty sum yields (contract, not accident)
    assert(r(6L) == ((0L, None)) && r(7L) == ((0L, None)))
  }

  test("x211: two identical 3-part orders make one w=2 triangle, gcc = 1") {
    val dir = tmp("x211")
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 4L)) // edge (1,4) has w=1: below every threshold
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = ExtendedQueries.x211GraphBackbone(spark, dir)
      .select("t", "nodes", "edges", "wedges", "triangles", "gcc")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out.head == ((2L, 3L, 3L, 3L, 1L, 1.0)))
    assert(out.drop(1).forall(r => r._2 == 0 && r._5 == 0 && r._6 == 0.0))
  }

  test("x218: equal values give gini 0; one holder of all gives 0.75") {
    val dir = tmp("x218")
    writeEvents(dir,
      Seq.tabulate(4)(i => ((i + 1).toLong, 0L, i.toLong * 1000000, "EQ", 5.0)) ++
      Seq((5L, 0L, 0L, "ONE", 0.0), (6L, 0L, 1000000L, "ONE", 0.0),
        (7L, 0L, 2000000L, "ONE", 0.0), (8L, 0L, 3000000L, "ONE", 10.0)))
    val g = ExtendedQueries.x218Gini(spark, dir)
      .select("event_type", "gini").as[(String, Double)].collect().toMap
    assert(g("EQ") == 0.0)
    assert(g("ONE") == 0.75) // (n-1)/n for total concentration, n = 4
  }

  test("x212: repeated per-day sequences collapse to one template") {
    val dir = tmp("x212")
    writeEvents(dir, Seq(
      (1L, 0L, 0L, "login", 0.0), (2L, 0L, 1000000L, "click", 0.0),
      (3L, 1L, 0L, "login", 0.0), (4L, 1L, 1000000L, "click", 0.0),
      (5L, 2L, 0L, "buy", 0.0)))
    val out = LlmQueries.x212ConversationTemplates(spark, dir)
      .select("rank", "template", "n_steps", "n_sessions")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((1L, "login>click", 2L, 2L), (2L, "buy", 1L, 1L)))
  }

  test("x215: mirrored (2/3,1/3) distributions give the closed-form JSD") {
    val dir = tmp("x215")
    Seq((1L, "a a b", "en", "P", 5L), (2L, "a b b", "en", "Q", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val jsd = LlmQueries.x215JsdSources(spark, dir)
      .select("jsd").as[Double].head()
    // JSD((2/3,1/3),(1/3,2/3)) = 1 - H(2/3,1/3) = 0.0817042…
    assert(math.abs(jsd - 0.0817042) < 3e-6)
  }

  test("x219: 'a b a b a c' has the closed-form conditional entropy") {
    val dir = tmp("x219")
    Seq((1L, "a b a b a c", "en", "S", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x219BigramEntropyRate(spark, dir)
      .select("n_bigrams", "h_bigram", "h_first", "h_cond")
      .as[(Long, Double, Double, Double)].head()
    assert(out._1 == 5L)
    assert(math.abs(out._2 - 1.5219281) < 3e-6) // H(2/5,2/5,1/5)
    assert(math.abs(out._3 - 0.9709506) < 3e-6) // H(3/5,2/5)
    assert(math.abs(out._4 - 0.5509775) < 3e-6)
  }

  test("x217: class sizes (1,3,10) produce the k-spine ledger") {
    val dir = tmp("x217")
    val rows =
      Seq.fill(1)(("en", "s1")) ++ Seq.fill(3)(("en", "s2")) ++
        Seq.fill(10)(("fr", "s1"))
    rows.zipWithIndex.map { case ((l, s), i) => (i.toLong, l, s, 50L) }
      .toDF("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ExtendedQueries.x217KAnonymity(spark, dir)
      .select("k", "n_small_classes", "n_risk_docs")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((2L, 1L, 1L), (5L, 2L, 4L), (10L, 2L, 4L),
      (20L, 3L, 14L)))
  }

  test("x220: 8 unique prices split 2-2-2-2 with exact rank ratios") {
    val dir = tmp("x220")
    writeLineitem(dir, (1 to 8).map(i => (1.0, i.toDouble * 100)))
    val out = ExtendedQueries.x220WindowRankFamily(spark, dir)
      .select("quartile", "n", "max_price", "max_pct_rank", "max_cume_dist")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out.map(_._2) == Seq(2L, 2L, 2L, 2L))
    assert(out.map(_._3) == Seq(200.0, 400.0, 600.0, 800.0))
    assert(out.map(_._4) == Seq(0.142857, 0.428571, 0.714286, 1.0))
    assert(out.map(_._5) == Seq(0.25, 0.5, 0.75, 1.0))
  }

  test("x227 == x220 on the ntile remainder case (10 rows -> 3,3,2,2)") {
    val dir = tmp("x227")
    writeLineitem(dir, (1 to 10).map(i => (1.0, i.toDouble * 7)))
    val viaWindow = ExtendedQueries.x220WindowRankFamily(spark, dir)
      .collect().map(_.toSeq).toSeq
    val viaRangeRank = ExtendedQueries.x227RangeRank(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaRangeRank == viaWindow)
    // SQL ntile's remainder-to-first-buckets rule: 10 rows → 3,3,2,2
    assert(viaWindow.map(_(2)) == Seq(3L, 3L, 2L, 2L))
  }

  test("x214: two 2-d vectors give exact per-dimension moments") {
    val dir = tmp("x214")
    Seq((1L, Array(1.0f, 3.0f), 0), (2L, Array(2.0f, 4.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x214EmbeddingProfile(spark, dir)
      .select("dim", "n", "mean", "variance", "min_v", "max_v")
      .as[(Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 1.5, 0.25, 1.0, 2.0),
      (2L, 2L, 3.5, 0.25, 3.0, 4.0)))
  }
}
