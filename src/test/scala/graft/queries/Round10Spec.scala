package graft.queries

import graft.SparkSpec

/** Round-10 query semantics the sf fixtures alone don't pin: KMV's exact-
  * vs-estimator branch and its h_k arithmetic (x241), Welch's t against an
  * independent plain-Scala recompute (x242), the bootstrap replicate weight
  * chain (x243), PSI's zero on mirrored halves and non-negativity (x244),
  * fertility counts on hand-countable text (x245), and the DP mechanism's
  * exact noise chain (x246).
  */
class Round10Spec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = tmpDir("r10").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("x241: exact branch below k, estimator branch above; h_k arithmetic") {
    // source 'small': 3 distinct tokens -> exact; 'big': 100 distinct -> KMV
    val small = (1L to 5L).map(i => (i, "a b c", "en", "small", 5L))
    val big = (101L to 110L).map { i =>
      val toks = ((i - 101) * 10 until (i - 101) * 10 + 10).map(t => s"t$t")
      (i, toks.mkString(" "), "en", "big", 50L)
    }
    val out = LlmQueries.x241KmvDistinct(spark, docsDir(small ++ big))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val (nS, estS, errS) = out("small")
    assert(nS == 3 && estS == 3.0 && errS == 0.0, "below k: sketch is exact")
    // independent JVM-side recompute of the big source's estimator
    val hashes = (0 until 100).map(t => java.lang.Long.parseLong(
      md5hex(s"t$t").substring(0, 8), 16)).distinct.sorted
    val hk = hashes(63)
    val est = math.floor(63.0 * 4294967296.0 / hk.toDouble * 1e6 + 0.5) / 1e6
    val (nB, estB, _) = out("big")
    assert(nB == hashes.size.toLong && estB == est,
      s"estimator must be (k-1)*2^32/h_k: got $estB want $est")
  }

  test("x242: Welch t/df equal an independent plain-Scala recompute") {
    val a = Seq(10L, 12L, 14L, 16L, 18L)
    val b = Seq(30L, 35L, 40L, 45L, 50L, 55L)
    val rows = a.zipWithIndex.map { case (x, i) => (i.toLong, "t", "en", "sa", x) } ++
      b.zipWithIndex.map { case (x, i) => (100L + i, "t", "en", "sb", x) }
    val out = ExtendedQueries.x242WelchTtest(spark, docsDir(rows))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(4), r.getDouble(5))).toMap
    def welch(x1: Seq[Long], x2: Seq[Long]): (Double, Double) = {
      val (n1, n2) = (x1.size.toLong, x2.size.toLong)
      val (s1, s2) = (x1.sum, x2.sum)
      val (q1, q2) = (x1.map(v => v * v).sum, x2.map(v => v * v).sum)
      val m1 = s1.toDouble / n1; val m2 = s2.toDouble / n2
      val aa = (q1 * n1 - s1 * s1).toDouble / (n1 * (n1 - 1)).toDouble / n1
      val bb = (q2 * n2 - s2 * s2).toDouble / (n2 * (n2 - 1)).toDouble / n2
      val t = (m1 - m2) / math.sqrt(aa + bb)
      val df = (aa + bb) * (aa + bb) /
        (aa * aa / (n1 - 1).toDouble + bb * bb / (n2 - 1).toDouble)
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      (r6(t), r6(df))
    }
    assert(out("sa") == ((a.size.toLong, welch(a, b)._1, welch(a, b)._2)))
    assert(out("sb") == ((b.size.toLong, welch(b, a)._1, welch(b, a)._2)))
  }

  test("x243: replicate weights are the md5 chain; bounds ordered") {
    val rows = (1L to 40L).map(i => (i, "t", "en", s"s${i % 2}", 100L + i))
    val out = ExtendedQueries.x243BootstrapCi(spark, docsDir(rows)).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(4), "ci_lo <= ci_hi")
    }
    // replicate b=7 of source s1 recomputed independently
    val docs = rows.filter(_._4 == "s1")
    val ws = docs.map { case (id, _, _, _, x) =>
      val w = java.lang.Long.parseLong(
        md5hex(s"boot|7|$id").substring(0, 8), 16) % 3
      (w, w * x)
    }
    val want = math.floor(
      ws.map(_._2).sum.toDouble / ws.map(_._1).sum.toDouble * 1e6 + 0.5) / 1e6
    // the replicate mean is internal; pin it through the public frame by
    // checking the CI bounds are drawn from the set of 100 replicate means
    val allReps = (1 to 100).map { b =>
      val w = docs.map { case (id, _, _, _, x) =>
        val v = java.lang.Long.parseLong(
          md5hex(s"boot|$b|$id").substring(0, 8), 16) % 3
        (v, v * x)
      }
      math.floor(w.map(_._2).sum.toDouble / w.map(_._1).sum.toDouble * 1e6 + 0.5) / 1e6
    }.sorted
    assert(allReps.contains(want))
    val r1 = out.find(_.getString(0) == "s1").get
    assert(r1.getDouble(3) == allReps(2) && r1.getDouble(4) == allReps(97),
      "CI bounds must be the 3rd / 98th order statistics of the replicate means")
  }

  test("x244: mirrored halves give psi = 0; asymmetric shift gives psi > 0") {
    // even and odd doc_ids carry IDENTICAL length multisets -> psi 0
    val sym = (1L to 20L).map(i => (i, "t", "en", "sym", 100L * ((i / 2) % 5 + 1)))
    // odd half shifted into different bins -> psi > 0
    val asym = (101L to 120L).map(i =>
      (i, "t", "en", "asym", if (i % 2 == 0) 100L else 900L))
    val out = ExtendedQueries.x244PsiDrift(spark, docsDir(sym ++ asym))
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(out("sym") == 0.0, s"identical halves must give psi 0, got ${out("sym")}")
    assert(out("asym") > 0.5, s"disjoint bins must give large psi, got ${out("asym")}")
  }

  test("x245: word/subtoken counts on hand-countable text") {
    // "ab cd-ef 12x": words 3; subtokens ab|cd|-|ef|12|x = 6
    val rows = Seq((1L, "ab cd-ef 12x", "en", "s", 12L),
      (2L, "Hello, world!", "en", "s", 13L)) // hello|,|world|! = 4, words 2
    val out = LlmQueries.x245TokenizerFertility(spark, docsDir(rows)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 2 && r.getLong(2) == 5 && r.getLong(3) == 10,
      s"got docs=${r.getLong(1)} words=${r.getLong(2)} subtokens=${r.getLong(3)}")
    assert(r.getDouble(4) == 2.0, "fertility = 10/5")
  }

  test("x247: trigram support/occurrence counting on a hand-built stream") {
    val dir = tmpDir("x247").toString
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)
    // u1: A B C B C ; u2: A B C ; u3: B C A (null type breaks nothing: filtered)
    val rows = Seq(
      (1L, ts(1), 1L, "A", 1.0, "{}"), (2L, ts(2), 1L, "B", 1.0, "{}"),
      (3L, ts(3), 1L, "C", 1.0, "{}"), (4L, ts(4), 1L, "B", 1.0, "{}"),
      (5L, ts(5), 1L, "C", 1.0, "{}"),
      (6L, ts(6), 2L, "A", 1.0, "{}"), (7L, ts(7), 2L, "B", 1.0, "{}"),
      (8L, ts(8), 2L, "C", 1.0, "{}"),
      (9L, ts(9), 3L, "B", 1.0, "{}"), (10L, ts(10), 3L, "C", 1.0, "{}"),
      (11L, ts(11), 3L, "A", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x247SeqTrigrams(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(out(("A", "B", "C")) == ((2L, 2L)), "ABC: users 1+2, 2 occurrences")
    assert(out(("B", "C", "B")) == ((1L, 1L)) && out(("B", "C", "A")) == ((1L, 1L)))
    assert(out.size == 4, s"expected 4 distinct trigrams, got ${out.keySet}")
    assert(out(("C", "B", "C")) == ((1L, 1L)))
  }

  test("x248: negatives never share the anchor's dup component; k <= 5") {
    val sf = "/root/testdata/sf0.001"
    val comp = LlmQueries.x47DedupComponents(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = LlmQueries.x248NegativeSampling(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, rk, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a % 50 == 0, "anchors are the mod-50 batch")
      assert(rk >= 1 && rk <= 5)
      assert(comp(a) != comp(n), s"negative $n shares component with anchor $a")
    }
    val perAnchor = out.groupBy(_.getLong(0)).values
    assert(perAnchor.forall(g => g.map(_.getLong(1)).sorted.toSeq == (1L to g.size)))
  }

  test("x249: element-wise mean pooling on a hand-built group") {
    val dir = tmpDir("x249").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // gid 0: vecs 0..2 (3 chunks); gid 1: vec 10 alone
    Seq((0L, v(1.0, 2.0), "a"), (1L, v(2.0, 4.0), "a"), (2L, v(3.0, 6.0), "a"),
        (10L, v(5.0, 7.0), "b"))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x249ChunkPool(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out((0L, 1)) == ((3L, 2.0)) && out((0L, 2)) == ((3L, 4.0)))
    assert(out((1L, 1)) == ((1L, 5.0)) && out((1L, 2)) == ((1L, 7.0)))
    // only the 64 real positions of a 2-dim vector exist per group: pos 3+ absent
    assert(!out.contains((0L, 3)))
  }

  test("x250: Kneser-Ney probabilities on a hand-countable corpus") {
    // "a b", "a b", "a c": c(a,b)=2 c(a,c)=1 c1(a)=3 N1+(a.)=2
    // cont(b)=cont(c)=1, T=2
    // p(b|a) = 1.25/3 + (0.75*2/3)*(1/2) = 0.416667 + 0.25 -> 0.666667
    // p(c|a) = 0.25/3 + 0.25 -> 0.333333
    val rows = Seq((1L, "a b", "en", "s", 3L), (2L, "a b", "en", "s", 3L),
      (3L, "a c", "en", "s", 3L), (4L, "solo", "en", "s", 4L))
    val out = LlmQueries.x250KneserNey(spark, docsDir(rows)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val pb = r6(1.25 / 3.0 + 0.75 * 2.0 / 3.0 * 0.5)
    val pc = r6(0.25 / 3.0 + 0.75 * 2.0 / 3.0 * 0.5)
    assert(out(1L) == ((1L, pb)) && out(2L) == ((1L, pb)))
    assert(out(3L) == ((1L, pc)))
    assert(!out.contains(4L), "single-token docs have no bigram rows")
  }

  test("x251: exactly-linear vocabulary growth gives beta = 1") {
    // doc i contributes EXACTLY one unique shingle (3 unique tokens):
    // prefixes hold 1/2/4/8/16 docs -> V = n at every prefix -> beta 1
    val rows = (0L to 15L).map(i => (i, s"t${i}a t${i}b t${i}c", "en", "s", 9L))
    val out = LlmQueries.x251HeapsLaw(spark, docsDir(rows)).collect()
    assert(out.length == 5)
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L), (2L, 2L), (4L, 4L), (8L, 8L), (16L, 16L)))
    assert(out.forall(_.getDouble(3) == 1.0), "ln V = ln n at every point")
  }

  test("x252: decoded dHash equals the formula recompute") {
    val out = MultimodalQueries.x252ImageDhash(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out.size == 24)
    for (id <- Seq(0L, 7L, 23L)) {
      val w = 8 + (id % 5).toInt; val h = 6 + (id % 3).toInt
      def gray(x: Int, y: Int): Long =
        (x * 7 + id * 13 + 3) % 256 + (y * 11 + id * 5 + 7) % 256 +
          (x + y + id * 3) % 256
      var bits = 0L; var ones = 0L; var idx = 0
      for (y <- 0 until h; x <- 0 until w - 1) {
        if (gray(x + 1, y) > gray(x, y)) {
          ones += 1; if (idx < 63) bits |= 1L << idx
        }
        idx += 1
      }
      assert(out(id) == ((ones, bits)), s"img $id")
    }
  }

  test("x253: Wilson interval on a hand-countable dup rate") {
    // source s: 4 docs, 2 exact copies -> x=2, n=4, p=0.5
    val rows = Seq((1L, "same text", "en", "s", 9L), (2L, "same text", "en", "s", 9L),
      (3L, "other a", "en", "s", 7L), (4L, "other b", "en", "s", 7L))
    val r = LlmQueries.x253WilsonCi(spark, docsDir(rows)).collect().head
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val (n, p, z2) = (4.0, 0.5, 1.96 * 1.96)
    val denom = 1.0 + z2 / n
    val center = (p + z2 / (2.0 * n)) / denom
    val half = 1.96 / denom * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    assert(r.getLong(1) == 4 && r.getLong(2) == 2)
    assert(r.getDouble(3) == 0.5)
    assert(r.getDouble(4) == r6(center - half) && r.getDouble(5) == r6(center + half))
    assert(r.getDouble(4) > 0.0 && r.getDouble(5) < 1.0, "Wilson never leaves [0,1]")
  }

  test("x254: Hill alpha on a hand-built tail") {
    val rows = (1L to 150L).map(i => (i, "t", "en", "s", i))
    val r = ExtendedQueries.x254HillTail(spark, docsDir(rows)).collect().head
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // top-101 lengths are 150..50; x_{k+1} = 50; DECIMAL sum == Σmicro/1e6
    val st6 = (50L to 150L).map(x =>
      math.floor(math.log(x.toDouble / 50.0) * 1e6 + 0.5).toLong).sum
    assert(r.getLong(0) == 100 && r.getLong(1) == 50)
    assert(r.getDouble(2) == r6(100.0 / (st6.toDouble / 1e6)))
  }

  test("x255: KS statistic equals the plain-Scala recompute") {
    val rows = (1L to 40L).map(i => (i, "t", "en", "s", 5L))
    val r = ExtendedQueries.x255HashUniformity(spark, docsDir(rows)).collect().head
    val hs = (1L to 40L).map { i =>
      (java.lang.Long.parseLong(md5hex(i.toString).substring(0, 8), 16), i)
    }.sorted
    val n = 40L
    val dmax = hs.zipWithIndex.map { case ((h, _), i0) =>
      val rk = i0 + 1L
      math.max(rk * 4294967296L - n * h, n * h - (rk - 1) * 4294967296L)
    }.max
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r.getLong(0) == n)
    assert(r.getDouble(1) == r6(dmax.toDouble / (n.toDouble * 4294967296.0)))
  }

  test("x256: 5-gram repetition on a hand-countable doc; short docs absent") {
    // 11 tokens, 7 positional 5-grams, 5 distinct -> rep = 1 - 5/7
    val rows = Seq((1L, "a b c d e a b c d e a", "en", "s", 21L),
      (2L, "p q r s t u", "en", "s", 11L), // 2 distinct 5-grams, no repeat
      (3L, "x y z", "en", "s", 5L)) // < 5 tokens: no row
    val out = LlmQueries.x256Rep5gram(spark, docsDir(rows)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out(1L) == ((7L, 5L, r6(1.0 - 5.0 / 7.0))))
    assert(out(2L) == ((2L, 2L, 0.0)))
    assert(!out.contains(3L))
  }

  test("x257: truncation recall on a hand-built +/-1 geometry") {
    val dir = tmpDir("x257").toString
    def v(f: Int => Double): Array[Float] =
      (0 until 64).map(i => f(i).toFloat).toArray
    Seq(
      (0L, v(_ => 1.0), "q"),
      (1L, v(_ => 1.0), "a"),                            // cos 1 everywhere
      (2L, v(i => if (i < 32) 1.0 else -1.0), "a"),      // 1 below dim 32
      (3L, v(i => if (i < 8) -1.0 else 1.0), "a"),       // worse at low dims
      (4L, v(i => if (i % 2 == 0) 1.0 else -1.0), "a"),  // cos 0 everywhere
      (5L, v(_ => 2.0), "a"),                            // cos 1 everywhere
      (6L, v(_ => -1.0), "a"),                           // cos -1
      (7L, v(i => if (i < 16) 1.0 else -1.0), "a"))      // 1 below dim 16
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x257MatryoshkaRecall(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // full top5 {1,5,3,2,4}; d=32 -> {1,2,5,3,4} (5 hits);
    // d=16 -> {1,2,5,7,3} (4); d=8 -> {1,2,4,5,7} (4)
    assert(out(32L) == ((5L, 1.0)))
    assert(out(16L) == ((4L, 0.8)))
    assert(out(8L) == ((4L, 0.8)))
  }

  test("x258: equal-quality sources get equal weights summing to ~1") {
    val rows = (1L to 10L).map(i =>
      (i, "the quick brown fox jumps", "en", if (i % 2 == 0) "a" else "b", 25L))
    val out = LlmQueries.x258DoremiStep(spark, docsDir(rows)).collect()
    assert(out.length == 2)
    assert(out(0).getDouble(2) == out(1).getDouble(2), "identical text -> equal loss")
    assert(out(0).getDouble(3) == 0.5 && out(1).getDouble(3) == 0.5)
  }

  test("x259: path graph gives the textbook r = -0.5") {
    // 6-token doc twice -> shingle path s1-s2-s3-s4 at support 2:
    // degrees 1,2,2,1 -> assortativity -0.5
    val rows = Seq((1L, "w1 w2 w3 w4 w5 w6", "en", "s", 17L),
      (2L, "w1 w2 w3 w4 w5 w6", "en", "s", 17L))
    val r = ExtendedQueries.x259Assortativity(spark, docsDir(rows)).collect().head
    assert(r.getLong(0) == 6, "3 undirected edges, both orientations")
    assert(r.getDouble(1) == -0.5)
  }

  test("x260: the textbook low/lower/lowest merge sequence") {
    val rows = Seq((1L, "low lower lowest low", "en", "s", 20L))
    val out = LlmQueries.x260BpeTrain5(spark, docsDir(rows)).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // pair ties break (count desc, pair asc): (l,o)=4 beats (o,w)=4
    assert(out.toSeq == Seq((1, "l", "o", 4L), (2, "lo", "w", 4L),
      (3, "low", "e", 2L), (4, "lowe", "r", 1L), (5, "lowe", "s", 1L)),
      s"got ${out.toSeq}")
  }

  test("x261: coverage is a proper fraction over the non-train splits") {
    val out = LlmQueries.x261NgramCoverage(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set("val", "test"))
    out.foreach { case (_, (nd, nc, cov)) =>
      assert(nd > 0 && nc >= 0 && nc <= nd)
      assert(cov == math.floor(nc.toDouble / nd.toDouble * 1e6 + 0.5) / 1e6)
    }
  }

  test("x262: deflate byte counts equal an independent Deflater(6) run") {
    val a = "spam " * 40 // highly repetitive
    val b = (1 to 40).map(i => md5hex(i.toString).take(4)).mkString(" ")
    val rows = Seq((1L, a, "en", "rep", a.length.toLong),
      (2L, b, "en", "mix", b.length.toLong))
    val out = LlmQueries.x262CompressRatio(spark, docsDir(rows)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def defl(s: String): Long = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](1 << 16)
      var out = 0L
      while (!d.finished()) out += d.deflate(buf)
      d.end(); out
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out("rep") == ((a.length.toLong, defl(a),
      r6(defl(a).toDouble / a.length))))
    assert(out("mix") == ((b.length.toLong, defl(b),
      r6(defl(b).toDouble / b.length))))
    assert(out("rep")._3 < out("mix")._3,
      "repetitive text must compress better than hash soup")
  }

  test("x263: order statistics at the exact ceil(q*n) ranks") {
    val rows = (1L to 1000L).map(i => (i, "t", "en", "s", i))
    val out = ExtendedQueries.x263ExactQuantiles(spark, docsDir(rows))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("p50" -> ((500L, 500L)), "p90" -> ((900L, 900L)),
      "p99" -> ((990L, 990L)), "p999" -> ((999L, 999L))))
  }

  test("x264: decay weights equal the closed form at exact month offsets") {
    val dir = tmpDir("x264").toString
    val base = 1704067200000000L // 2024-01-01 UTC epoch-µs
    val month = 2592000000000L // 30 days in µs
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    Seq((1L, ts(base + 2 * month), 1L, "click", 1.0, "{}"),
        (2L, ts(base + month), 1L, "click", 1.0, "{}"),
        (3L, ts(base), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = ExtendedQueries.x264DecayVolume(spark, dir).collect().head
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val micro = Seq(0.0, -1.0, -2.0).map(a => math.round(r6(math.exp(a)) * 1e6)).sum
    assert(r.getLong(1) == 3)
    assert(r.getDouble(2) == micro.toDouble / 1e6,
      s"decayed mass must be the decimal sum of rounded exp terms")
    assert(r.getDouble(3) == r6(micro.toDouble / 1e6 / 3.0))
  }

  test("x246: noise chain exact vs plain-Scala recompute; deterministic") {
    val rows = (1L to 30L).map(i => (i, "t", "en", "src", 500L + i))
    val dir = docsDir(rows)
    val out1 = LlmQueries.x246DpRelease(spark, dir).collect()
    val out2 = LlmQueries.x246DpRelease(spark, dir).collect()
    assert(out1.toSeq == out2.toSeq, "fixture-seeded mechanism is deterministic")
    val r = out1.head
    def lap(tag: String, b: Double): Double = {
      val h = java.lang.Long.parseLong(md5hex(tag + "src").substring(0, 13), 16)
      val u = (h.toDouble + 0.5) / 4503599627370496.0
      -b * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val n = 30.0
    val cs = rows.map(t => math.min(t._5, 1000L)).sum.toDouble
    assert(r.getDouble(2) == r6(n + lap("dp1|", 1.0)))
    assert(r.getDouble(3) == r6(cs + lap("dp2|", 1000.0)))
  }
}
