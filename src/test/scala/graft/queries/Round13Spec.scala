package graft.queries

import graft.SparkSpec

/** Round-13 query semantics the sf fixtures alone don't pin: x348's
  * window/island arithmetic on constructed cross-doc and WITHIN-doc
  * duplications (the two cases that define it), x349's MM fixpoint on a
  * hand-solvable 2-item tournament, x350 against an independent from-
  * scratch recompute (MessageDigest md5, not Spark's), x351's quantizer
  * on hand-computed lanes including a genuine clip, and x353's
  * conservation + independent argmax recompute.
  */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = tmpDir("r13").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def eventsDir(rows: Seq[(Long, Long, String, Double)]): String = {
    val dir = tmpDir("r13ev").toString
    rows.map { case (id, uid, typ, v) =>
      (id, new java.sql.Timestamp(1700000000000L + id), uid, typ, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def embDir(rows: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = tmpDir("r13emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  test("x348: cross-doc shared 8-window covers both docs' spans") {
    // doc1's single window [a..h] repeats at doc2 position 3
    val dir = docsDir(Seq(
      (1L, "a b c d e f g h i j", "en", "s", 19L),
      (2L, "z z a b c d e f g h q", "en", "s", 21L)))
    val out = Round13Queries.x348ExactSubstrCoverage(spark, dir)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(out(1L).getAs[Long]("n_tokens") == 10L)
    assert(out(1L).getAs[Long]("n_dup_windows") == 1L)
    assert(out(1L).getAs[Long]("n_islands") == 1L)
    assert(out(1L).getAs[Long]("covered_tokens") == 8L)
    assert(out(1L).getAs[Double]("coverage_frac") == 0.8)
    assert(out(2L).getAs[Long]("covered_tokens") == 8L)
    assert(out(2L).getAs[Double]("coverage_frac") == r6(8.0 / 11.0))
  }

  test("x348: WITHIN-doc repeat (x131's blind spot) and island separation") {
    // "p..w" repeats at positions 1 and 10 of the SAME doc: gap 9 > 7 →
    // two islands, 16 covered of 17
    val dir = docsDir(Seq(
      (1L, "p q r s t u v w X p q r s t u v w", "en", "s", 33L)))
    val got = Round13Queries.x348ExactSubstrCoverage(spark, dir).head()
    assert(got.getAs[Long]("n_dup_windows") == 2L)
    assert(got.getAs[Long]("n_islands") == 2L)
    assert(got.getAs[Long]("covered_tokens") == 16L)
    assert(got.getAs[Double]("coverage_frac") == r6(16.0 / 17.0))
  }

  test("x348: short docs (< 8 tokens) report zero coverage, not null") {
    val dir = docsDir(Seq((1L, "a b c", "en", "s", 5L)))
    val got = Round13Queries.x348ExactSubstrCoverage(spark, dir).head()
    assert(got.getAs[Long]("n_tokens") == 3L)
    assert(got.getAs[Long]("covered_tokens") == 0L)
    assert(got.getAs[Double]("coverage_frac") == 0.0)
  }

  test("x349: 2-item tournament solves the MM fixpoint by hand") {
    // u1: a>b, u2: b>a, u3: a>b → n_ab=2, n_ba=1
    val dir = eventsDir(Seq(
      (1L, 1L, "a", 5.0), (2L, 1L, "b", 3.0),
      (3L, 2L, "a", 1.0), (4L, 2L, "b", 2.0),
      (5L, 3L, "a", 4.0), (6L, 3L, "b", 1.0)))
    val out = Round13Queries.x349BradleyTerry(spark, dir)
      .collect().map(x => x.getString(0) -> x).toMap
    // iter1: den = r6(3/2) = 1.5; p_a = r6(2/1.5), p_b = r6(1/1.5);
    // p_a + p_b = 2.0 exactly → iterations 2,3 are fixpoints
    assert(out("a").getAs[Long]("n_wins") == 2L)
    assert(out("a").getAs[Long]("n_losses") == 1L)
    assert(out("b").getAs[Long]("n_wins") == 1L)
    assert(out("a").getAs[Double]("strength") == r6(2.0 / 1.5))
    assert(out("b").getAs[Double]("strength") == r6(1.0 / 1.5))
    assert(out("a").getAs[Double]("share") == r6(1.333333 / 2.0))
    assert(out("b").getAs[Double]("share") == r6(0.666667 / 2.0))
  }

  test("x350: equals an independent from-scratch recompute (jdk md5)") {
    val rows = (0L until 40L).map(i =>
      (i, "t", "en", "s", 100L + i * 25L)) // terciles across the range
    val dir = docsDir(rows)
    val got = Round13Queries.x350KrippendorffAlpha(spark, dir).head()

    def md5hex2(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${d(0) & 0xff}%02x", 16)
    }
    val labels = rows.flatMap { case (id, _, _, _, nc) =>
      val base = if (nc < 300) 0L else if (nc < 600) 1L else 2L
      (0 until 3).map { r =>
        val h = md5hex2(s"$id|$r")
        if (h % 4 == 0) (h / 4) % 3 else base
      }
    }
    val byDoc = labels.grouped(3).toSeq
    val nDocs = byDoc.size
    val do2 = byDoc.map { ls =>
      6L - ls.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1)).sum
    }.sum
    val nc = labels.groupBy(identity).values.map(_.size.toLong).toSeq
    val n = nc.sum
    val e = n * n - nc.map(c => c * c).sum
    def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got.getAs[Long]("n_docs") == nDocs.toLong)
    assert(got.getAs[Long]("n_ratings") == n)
    assert(got.getAs[Double]("d_o") == r6d(do2 / 2.0))
    assert(got.getAs[Double]("alpha") ==
      r6d(1.0 - (do2 * (n - 1)).toDouble / (e.toDouble * 2.0)))
    // the construction keeps agreement high but imperfect
    assert(got.getAs[Double]("alpha") > 0.3 && got.getAs[Double]("alpha") < 1.0)
  }

  test("x351: hand-computed lanes, including a genuine clip") {
    // v1: maxabs 2.0 → scale r6(2/127) = 0.015748; q = (64, -127, 32)
    // v2: maxabs 0.000129 → scale 1e-6; ratio ≈ 129 → clipped to 127
    val dir = embDir(Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f), 0),
      (2L, Seq(0.000129f, 0.0f, 0.0f), 1)))
    val out = Round13Queries.x351Int8Quant(spark, dir)
      .collect().map(x => x.getInt(0) -> x).toMap
    assert(out(0).getAs[Long]("sum_abs_q") == 64L + 127L + 32L)
    assert(out(0).getAs[Long]("sum_q") == 64L - 127L + 32L)
    assert(out(0).getAs[Long]("n_clipped") == 0L)
    assert(out(0).getAs[Double]("mean_scale") == 0.015748)
    assert(out(1).getAs[Long]("n_clipped") == 1L)
    assert(out(1).getAs[Long]("sum_abs_q") == 127L)
  }

  test("x351: zero vector quantizes to all-zero lanes, scale 0") {
    val dir = embDir(Seq((1L, Seq(0.0f, 0.0f), 7)))
    val got = Round13Queries.x351Int8Quant(spark, dir).head()
    assert(got.getAs[Long]("sum_abs_q") == 0L)
    assert(got.getAs[Double]("mean_scale") == 0.0)
  }

  test("x352: sum_w is the hand-computed real-probe NN; H well-formed") {
    // vec ids 0..40, dim 2: sampled reals are 0 and 31. Coordinates are
    // (id, 2id), so NN of id 0 is id 1 at d² = 1² + 2² = 5, NN of 31 is
    // 30/32 at the same 5 — sum_w = 10 exactly, independent of the md5
    // synthetic probes (which only well-formedness can pin here).
    val dir = embDir((0L until 41L).map(i =>
      (i, Seq(i.toFloat, 2.0f * i), 0)))
    val got = Round13Queries.x352Hopkins(spark, dir).head()
    assert(got.getAs[Long]("m") == 2L)
    assert(got.getAs[Double]("sum_w") == 10.0)
    val h = got.getAs[Double]("hopkins")
    assert(h >= 0.0 && h <= 1.0)
    assert(got.getAs[Double]("sum_u") >= 0.0)
  }

  test("x354: planted outlier scores LOF >> 1; in-cluster query ~ 1") {
    // ids 0 and 200 are the % 200 queries: 0 planted far from the tight
    // 1..4 cluster, 100 planted inside it
    val dir = embDir(Seq(
      (0L, Seq(100.0f, 100.0f), 0),
      (1L, Seq(0.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(1.0f, 0.0f), 0), (4L, Seq(1.0f, 1.0f), 0),
      (200L, Seq(0.5f, 0.5f), 1)))
    val out = Round13Queries.x354Lof(spark, dir)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(out.keySet == Set(0L, 200L))
    assert(out(0L).getAs[Double]("lof") > 1.5, "planted outlier must score high")
    assert(math.abs(out(200L).getAs[Double]("lof") - 1.0) < 0.3,
      "in-cluster query must score near 1")
    assert(out(200L).getAs[Int]("label") == 1)
  }

  test("x355: hand-solvable split — qhat is the rank-10 score, one miss") {
    // cal = even ids 2..20 (values 1..10): mu = 5.5e6, scores
    // {0.5,1.5,2.5,3.5,4.5}e6 x2, rank ceil(11*0.9)=10 -> qhat=4.5e6;
    // test = odd ids (values 1..10, all covered) + id 21 value 100 (miss)
    val cal = (1L to 10L).map(i => (2 * i, 1L, "t", i.toDouble))
    val tst = (1L to 10L).map(i => (2 * i - 1, 1L, "t", i.toDouble)) :+
      ((21L, 1L, "t", 100.0))
    val got = Round13Queries.x355ConformalCoverage(spark, eventsDir(cal ++ tst))
      .head()
    assert(got.getAs[Long]("n_cal") == 10L)
    assert(got.getAs[Long]("n_test") == 11L)
    assert(got.getAs[Double]("qhat") == 4500000.0)
    assert(got.getAs[Long]("n_covered") == 10L)
    assert(got.getAs[Double]("coverage") == r6(10.0 / 11.0))
  }

  test("x353: loads conserve N; argmax matches an independent recompute") {
    val dir = docsDir((0L until 50L).map(i => (i, "t", "en", "s", 5L)))
    val rows = Round13Queries.x353HrwSharding(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_hrw")).sum == 50L)
    assert(rows.map(_.getAs[Long]("n_mod")).sum == 50L)
    assert(rows.forall(r => r.getAs[Long]("n_moved_33") <= r.getAs[Long]("n_hrw")))

    def hrw(id: Long, shards: Int): Long =
      (0 until shards).map(sh => (md5hex(s"$id|$sh"), sh))
        .max._2.toLong
    val moved = (0L until 50L).count(id => hrw(id, 32) != hrw(id, 33))
    assert(rows.map(_.getAs[Long]("n_moved_33")).sum == moved.toLong)
  }
}
