package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Edge cases of the LLM-pipeline query group that the sf fixtures never
  * exercise: sub-shingle-length docs, exact duplicate texts, bucket pruning.
  * Each test writes a miniature fixture dir so the production (sfDir-keyed)
  * query functions run unmodified.
  */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = tmpDir("llm_docs").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("x13: exact duplicate texts collapse to the lowest doc_id") {
    val long = (0 until 20).map(i => s"tok$i").mkString(" ")
    val dir = docsDir(Seq(
      (0L, long, "en", "s", long.length.toLong),
      (1L, "completely different words here entirely", "en", "s", 40L),
      (2L, long, "en", "s", long.length.toLong))) // dup of 0
    val out = LlmQueries.x13MinhashNearDedup(spark, dir)
      .select("doc_id", "canonical_id", "is_dup")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((0L, 0L, 0), (1L, 1L, 0), (2L, 0L, 1)))
  }

  test("x13: docs under 3 tokens produce no shingles and stay canonical (sequence(1,0) guard)") {
    val dir = docsDir(Seq(
      (0L, "one two", "en", "s", 7L),
      (1L, "single", "en", "s", 6L),
      (2L, "three tokens here now", "en", "s", 21L)))
    val out = LlmQueries.x13MinhashNearDedup(spark, dir)
      .select("doc_id", "canonical_id", "is_dup")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((0L, 0L, 0), (1L, 1L, 0), (2L, 2L, 0)))
  }

  test("x19: identical texts get identical simhash; different texts (almost surely) differ") {
    val dir = docsDir(Seq(
      (0L, "alpha beta gamma delta", "en", "s", 22L),
      (1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "epsilon zeta eta theta iota kappa", "en", "s", 33L)))
    val out = LlmQueries.x19Simhash(spark, dir).as[(Long, Long)].collect().toMap
    assert(out(0L) == out(1L))
    assert(out(0L) != out(2L))
    assert(out.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("x16: hand-computed quality score for a known doc") {
    // "the cat sat": 3 tokens, 1 stopword, 9 non-space chars
    val dir = docsDir(Seq((0L, "the cat sat", "en", "s", 11L)))
    val r = LlmQueries.x16QualityScore(spark, dir).collect().head
    assert(r.getAs[Long]("n_tokens") == 3)
    assert(r.getAs[Long]("n_stop") == 1)
    assert(math.abs(r.getAs[Double]("stop_ratio") - 0.333333) < 1e-9)
    val expected = BigDecimal(
      0.4 * 3.0 / 50.0 + 0.3 * (1.0 - 1.0 / 3.0) + 0.3 * 3.0 / 10.0)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getAs[Double]("quality_score") - expected) < 1e-9)
  }

  test("x17: short docs (<8 chars) fall back to whole-text md5") {
    val dir = docsDir(Seq((0L, "tiny", "en", "s", 4L), (1L, "exactly8", "en", "s", 8L)))
    val out = LlmQueries.x17Fingerprint(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(out(0L) == org.apache.commons.codec.digest.DigestUtils.md5Hex("tiny"))
    assert(out(1L) == org.apache.commons.codec.digest.DigestUtils.md5Hex("exactly8"))
  }

  test("x21: only vectors in the query's sign-bit bucket are scanned") {
    val dir = tmpDir("llm_emb").toString
    def vec(lead: Seq[Float]): Seq[Float] = lead ++ Seq.fill(64 - lead.length)(0.5f)
    Seq(
      (0L, vec(Seq(1f, 1f, -1f, 1f)), 0),   // query: bucket 1101 = 13
      (1L, vec(Seq(1f, 1f, -1f, 2f)), 1),   // same bucket
      (2L, vec(Seq(-1f, 1f, -1f, 1f)), 2)   // different bucket → pruned
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ids = LlmQueries.x21AnnBucketed(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L))
  }

  test("x15: signature-bigram scoring predicts by argmax with lexicographic tie-break") {
    val dir = docsDir(Seq(
      (0L, "thhe thhe thhe", "en", "s", 14L),  // th+he rich → 'en'
      (1L, "qq ww rr", "zh", "s", 8L)))        // all scores 0 → tie → 'de'
    val out = LlmQueries.x15LanguageId(spark, dir)
      .select("lang", "predicted").as[(String, String)].collect().toSet
    assert(out == Set(("en", "en"), ("zh", "de")))
  }

  // A~B~C chain where A and C share NO band bucket (disjoint shingle sets),
  // found by offline search over the exact md5("<j>|<shingle>") recipe:
  // doc B = A's text ++ C's text, and for these token pools the argmin of
  // every minhash in band 2 falls in A's shingles (B collides with A there)
  // and of every minhash in band 0 falls in C's shingles (B collides with
  // C). The sf fixtures contain no such chain (checked at sf0.01: zero
  // same-component pairs absent from x20's direct-candidate list), so this
  // is the only coverage of the closure actually closing anything.
  private val chainA = (0 until 10).map(i => s"a17w$i").mkString(" ")
  private val chainC = (0 until 10).map(i => s"c17w$i").mkString(" ")
  private val chainB = chainA + " " + chainC

  test("x47: transitive chain collapses to ONE component where x13's one-hop can't") {
    val dir = docsDir(Seq(
      (0L, chainA, "en", "s", chainA.length.toLong),
      (1L, chainB, "en", "s", chainB.length.toLong),
      (2L, chainC, "en", "s", chainC.length.toLong)))
    // precondition: this really is a chain, not a triangle — x13's one-hop
    // canonical maps C to B (its only bucket-mate), NOT to A
    val oneHop = LlmQueries.x13MinhashNearDedup(spark, dir)
      .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(oneHop == Map(0L -> 0L, 1L -> 0L, 2L -> 1L),
      s"chain precondition broke (recipe changed?): $oneHop")
    val out = LlmQueries.x47DedupComponents(spark, dir)
      .select("doc_id", "component", "n_members", "is_canonical")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(out == Seq((0L, 0L, 3L, 1), (1L, 0L, 3L, 0), (2L, 0L, 3L, 0)))
  }

  test("x48: delta batch dedups against standing corpus; standing docs never emitted") {
    val long = (0 until 20).map(i => s"tok$i").mkString(" ")
    val other = (0 until 20).map(i => s"zzz$i").mkString(" ")
    val dir = docsDir(Seq(
      (0L, long, "en", "s", long.length.toLong),   // delta, dup of standing 1 BUT lower id → canonical stays 0
      (1L, long, "en", "s", long.length.toLong),   // standing
      (2L, other, "en", "s", other.length.toLong), // standing dup pair 2~3:
      (3L, other, "en", "s", other.length.toLong), //   not delta → not in output
      (4L, long, "en", "s", long.length.toLong),   // delta, dup → canonical 0 (delta rep beats standing rep 1)
      (8L, "completely different words here entirely now", "en", "s", 44L))) // delta, unique
    val out = LlmQueries.x48IncrementalDedup(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((0L, 0L, 0), (4L, 0L, 1), (8L, 8L, 0)))
  }

  test("x47 property: components equal union-find over the band-bucket graph on random corpora") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 12).map(i => s"w$i") // small vocab → real collisions
    for (trial <- 1 to 3) {
      val rows = (0L until 60L).map { i =>
        val t = (0 until 8 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (i, t, "en", "s", t.length.toLong)
      }
      val dir = docsDir(rows)
      // independent ground truth: union-find over the docs-sharing-a-bucket
      // relation (exactly x47's adjacency, via the same bucket recipe)
      val buckets = LlmQueries.bandBuckets(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
        .collect().map(r => (r.getInt(1), r.getString(2)) -> r.getLong(0))
      val parent = scala.collection.mutable.Map((0L until 60L).map(d => d -> d): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      buckets.groupBy(_._1).values.foreach { grp =>
        val ds = grp.map(_._2)
        ds.tail.foreach { d =>
          val (a, b) = (find(ds.head), find(d))
          if (a != b) parent(math.max(a, b)) = math.min(a, b)
        }
      }
      // path-compress to the true minimum of each class
      val want = (0L until 60L).map(d => d -> find(d)).toMap
      val got = LlmQueries.x47DedupComponents(spark, dir)
        .select("doc_id", "component").as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial: component mismatch")
    }
  }

  test("x49: an exact copy of the query gets the query's own PQ codes and ties at rank 1-2") {
    val dir = tmpDir("llm_pq").toString
    val rnd = new scala.util.Random(7)
    def v(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
    val q = v()
    Seq(
      (0L, q, 0),          // query
      (1L, v(), 1), (2L, v(), 2), (3L, v(), 3), (4L, v(), 4), // codebook donors
      (5L, q, 5),          // exact copy of the query
      (6L, v(), 6))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x49PqAnn(spark, dir)
      .select("vec_id", "approx_dist", "cosine")
      .as[(Long, Double, Double)].collect().toSeq
    assert(out.map(_._1).take(2) == Seq(0L, 5L),
      s"identical vectors must share codes and tie first by id: $out")
    assert(out(0)._2 == out(1)._2, "identical codes -> identical ADC distance")
    assert(out(0)._3 == 1.0 && out(1)._3 == 1.0)
  }

  test("x47: disconnected docs stay singleton components (incl. sub-shingle docs)") {
    val dir = docsDir(Seq(
      (0L, chainA, "en", "s", chainA.length.toLong),
      (1L, chainC, "en", "s", chainC.length.toLong),
      (2L, "one two", "en", "s", 7L))) // < 3 tokens → no signature row at all
    val out = LlmQueries.x47DedupComponents(spark, dir)
      .select("doc_id", "component", "n_members", "is_canonical")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(out == Seq((0L, 0L, 1L, 1), (1L, 1L, 1L, 1), (2L, 2L, 1L, 1)))
  }

  test("x53: a shared 20-token chunk is flagged in BOTH docs; the tail chunk stays unique") {
    val first20 = (0 until 20).map(i => s"w$i").mkString(" ")
    val dir = docsDir(Seq(
      (0L, first20 + " t0 t1 t2 t3 t4", "en", "s", 1L), // chunks: [first20], [t0..t4]
      (1L, first20, "en", "s", 1L),                     // one chunk == doc 0's chunk 0
      (2L, (0 until 5).map(i => s"u$i").mkString(" "), "en", "s", 1L))) // unique
    val out = LlmQueries.x53ChunkDedup(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 1L, 0.5), // 2 chunks, the first20 chunk duplicated by doc 1
      (1L, 1L, 1L, 1.0),
      (2L, 1L, 0L, 0.0)))
  }

  test("x54: every source is cut to the smallest source's size, by independent md5 order") {
    val rows = (0L until 7L).map(d =>
      (d, s"text $d", "en", if (d < 4) "big" else "small", 1L))
    val dir = docsDir(rows)
    val out = LlmQueries.x54DomainRebalance(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    // k = 3 (the "small" source); per source the 3 lowest-md5 ids survive
    def h(d: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(d.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wantBig = (0L until 4L).sortBy(d => (h(d), d)).take(3)
    val wantSmall = (4L until 7L).sortBy(d => (h(d), d)).take(3)
    assert(out.count(_._1 == "big") == 3 && out.count(_._1 == "small") == 3)
    assert(out.filter(_._1 == "big").sortBy(_._2).map(_._3) == wantBig)
    assert(out.filter(_._1 == "small").sortBy(_._2).map(_._3) == wantSmall)
  }

  test("x55: hand-computed Simpson moments (a a b -> 4/9 and 9/5; single token -> 0 and 1)") {
    val dir = docsDir(Seq(
      (0L, "a a b", "en", "s", 5L),
      (1L, "x", "en", "s", 1L)))
    val out = LlmQueries.x55LexicalDiversity(spark, dir)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    // doc 0: N=3, counts {a:2, b:1}, sum_sq=5 -> (9-5)/9 = 0.444444 (floor-
    // rounded), inverse 9/5 = 1.8; doc 1: 0 diversity, inverse exactly 1
    assert(out == Seq(
      (0L, 3L, 2L, math.floor(4.0 / 9.0 * 1e6 + 0.5) / 1e6, 1.8),
      (1L, 1L, 1L, 0.0, 1.0)))
  }

  test("x59: dups collapse within clusters only; sub-τ mates and singleton clusters stay kept") {
    val dir = tmpDir("llm_semdedup").toString
    def axis(i: Int, v: Float): Seq[Float] =
      Seq.tabulate(64)(p => if (p == i - 1) v else 0f)
    def plus(a: Seq[Float], b: Seq[Float]): Seq[Float] = a.zip(b).map { case (x, y) => x + y }
    val rows =
      Seq((0L, axis(2, 1f), 0)) ++                      // e2 → cluster 2
      (1 to 8).map(i => (i.toLong, axis(i, 1f), 0)) ++  // the 8 centroids
      Seq(
        (9L, axis(1, 1f), 0),                           // copy of centroid 1 → dup of 1
        (10L, axis(2, 0.5f), 0),                        // scaled e2: cos 1.0 to 0 and 2
        (11L, plus(axis(1, 0.3f), axis(9, 0.954f)), 0)) // cluster 1 at cos≈0.3 < τ → kept
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x59SemDedup(spark, dir)
      .as[(Long, Long, Long, Int, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 0L, 0, 0L), (1L, 1L, 1L, 0, 0L),
      (2L, 2L, 0L, 1, 1L), // the centroid vector itself dups against vec 0
      (3L, 3L, 3L, 0, 0L), (4L, 4L, 4L, 0, 0L), (5L, 5L, 5L, 0, 0L),
      (6L, 6L, 6L, 0, 0L), (7L, 7L, 7L, 0, 0L), (8L, 8L, 8L, 0, 0L),
      (9L, 1L, 1L, 1, 1L),   // exact copy of centroid 1
      (10L, 2L, 0L, 1, 2L),  // both lower cluster-mates are at cosine 1.0
      (11L, 1L, 11L, 0, 0L)))// assigned to cluster 1 but below τ → survives
  }

  test("x60: bins split at the 2048-token offset per stripe; stripes pack independently") {
    def toks(n: Int): String = Seq.fill(n)("w").mkString(" ")
    val dir = docsDir(Seq(
      (0L, toks(1500), "en", "s", 1L),  // stripe 0, offset 0    → bin 0
      (8L, toks(600), "en", "s", 1L),   // stripe 0, offset 1500 → bin 0
      (16L, toks(100), "en", "s", 1L),  // stripe 0, offset 2100 → bin 1
      (1L, toks(10), "en", "s", 1L)))   // stripe 1, its own packing
    val out = LlmQueries.x60SequencePack(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 2L, 2100L, 0L, 8L),
      (0L, 1L, 1L, 100L, 16L, 16L),
      (1L, 0L, 1L, 10L, 1L, 1L)))
  }

  test("x62: identical docs estimate and measure Jaccard 1.0 with zero error; no cross pair") {
    val twenty = (0 until 20).map(i => s"tok$i").mkString(" ")
    val dir = docsDir(Seq(
      (0L, twenty, "en", "s", 1L),
      (1L, twenty, "en", "s", 1L), // exact dup: identical signature + shingles
      (2L, "completely different words in this one here now", "en", "s", 1L)))
    val out = LlmQueries.x62MinhashEstimate(spark, dir)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    // 20 distinct tokens → 18 distinct shingles; every minimum agrees
    assert(out == Seq((0L, 1L, 18L, 1.0, 1.0, 0.0)))
  }

  test("x63: hand-computed rarity — ubiquitous terms score N/df=1, rare ones N/df=N") {
    val dir = docsDir(Seq(
      (0L, "a a b", "en", "s", 1L),
      (1L, "a c", "en", "s", 1L)))
    val out = LlmQueries.x63RarityScore(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // idf: a→2/2=1, b→2, c→2. doc0: (2·1 + 1·2)/3 = 4/3; doc1: (1+2)/2
    assert(out == Seq(
      (0L, 3L, 2L, math.floor(4.0 / 3.0 * 1e6 + 0.5) / 1e6),
      (1L, 2L, 2L, 1.5)))
  }

  test("x56: majority label of the top-5 wins; self is excluded; vote count is exact") {
    val dir = tmpDir("llm_knn").toString
    def e1(eps: Float): Seq[Float] =
      Seq(1f, eps, 0f) ++ Seq.fill(61)(0f)
    val mid: Seq[Float] = Seq(0.7f, 0.72f, 0f) ++ Seq.fill(61)(0f)
    Seq(
      (0L, e1(0f), 0),                  // the query (0 % 50 == 0)
      (1L, e1(0.01f), 7), (2L, e1(0.02f), 7), (3L, e1(0.03f), 7),
      (4L, mid, 3), (5L, mid, 3),
      (6L, e1(0f).map(-_), 9))          // cosine -1, never in the top-5
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x56KnnClassify(spark, dir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out.length == 1)
    val (vid, pred, votes, meanCos) = out.head
    assert(vid == 0L && pred == 7 && votes == 3L)
    assert(meanCos > 0.8 && meanCos < 1.0, s"mean of 3 near + 2 mid cosines: $meanCos")
  }

  test("kNN vote behind IVF candidates == brute-force x56 when probes cover the true top-5") {
    val dir = tmpDir("llm_knn_ann").toString
    // 3 orthogonal clusters (dims 0..2), per-id perturbation at dims 8..14
    // so same-cluster cosines are distinct unless ids collide mod 7 (then
    // the vec_id tie-break is exercised identically on both paths).
    // Centroids (vec_ids 1..8) land on dirs 1,2,0,1,2,0,1,2, so probing
    // nprobe=3 lists covers every same-dir vector — and the true top-5 of
    // each query is same-dir (cross-dir cosines are ~1e-4).
    def v(i: Long): Seq[Float] = {
      val a = Array.fill(64)(0f)
      a((i % 3).toInt) = 1f
      a(8 + (i % 7).toInt) = 0.01f * ((i % 7) + 1)
      a.toSeq
    }
    (1L to 200L).map(i => (i, v(i), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = LlmQueries.x56KnnClassify(spark, dir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(brute.map(_._1) == Seq(50L, 100L, 150L, 200L)) // the query batch
    val ann = LlmQueries.knnVote(LlmQueries.knnAnnCandidates(spark, dir, nprobe = 3))
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(ann == brute) // identical prediction, votes, AND mean cosine
    // the ANN path really prunes: probed candidates are a strict subset
    // of the brute-force pair matrix (which scores 4 * 199 pairs)
    val nAnn = LlmQueries.knnAnnCandidates(spark, dir, nprobe = 3).count()
    assert(nAnn < 4L * 199L && nAnn > 0L)
    // probing every list degenerates to brute force exactly
    assert(LlmQueries.knnVote(LlmQueries.knnAnnCandidates(spark, dir, nprobe = 8))
      .as[(Long, Int, Long, Double)].collect().toSeq == brute)
  }

  test("x64: emails/IPs/phones counted and redacted byte-exactly; clean text untouched") {
    val dir = docsDir(Seq(
      (0L, "contact john.doe+spam@mail.example.com or 10.0.0.1 now", "en", "s", 1L),
      (1L, "call +14155552671 then +4930123456", "en", "s", 1L),
      (2L, "no pii in this document at all", "en", "s", 1L),
      (3L, "mail a@1.2.3.4.com today", "en", "s", 1L))) // IP inside the email's domain
    val out = LlmQueries.x64PiiScrub(spark, dir)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    val red0 = "contact <EMAIL> or <IP> now"
    val red1 = "call <PHONE> then <PHONE>"
    val red2 = "no pii in this document at all"
    val red3 = "mail <EMAIL> today"
    assert(out == Seq(
      (0L, 1L, 1L, 0L, red0.length.toLong, md5hex(red0)),
      (1L, 0L, 0L, 2L, red1.length.toLong, md5hex(red1)),
      (2L, 0L, 0L, 0L, red2.length.toLong, md5hex(red2)),
      // the embedded IP was CONSUMED by the email redaction: n_ips must be
      // 0, not 1 — counts reconcile exactly with the redacted bytes
      (3L, 1L, 0L, 0L, red3.length.toLong, md5hex(red3))))
  }

  test("x65: vocab boundary tie resolves by term order; OOV terms counted per doc") {
    // 22 terms appear twice (tied count), 3 terms once; top-20 = the 22
    // tied terms minus the lexicographically LAST two (t20, t21), so both
    // tied-out terms plus the singletons are OOV
    val common = (0 until 22).map(i => f"t$i%02d")
    val doc0 = common.mkString(" ")                  // one of each tied term
    val doc1 = common.mkString(" ") + " rare1 rare2 rare3"
    val dir = docsDir(Seq(
      (0L, doc0, "en", "s", 1L),
      (1L, doc1, "en", "s", 1L)))
    val out = LlmQueries.x65VocabCoverage(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc0: 22 tokens, OOV = t20, t21; doc1: 25 tokens, OOV = those + 3 rares
    assert(out == Seq(
      (0L, 22L, 2L, math.floor(2.0 / 22.0 * 1e6 + 0.5) / 1e6),
      (1L, 25L, 5L, 0.2)))
  }

  test("x66: the LONGEST copy wins its near-dup group even when a shorter copy has a lower id") {
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val longer = base + " extra trailing tokens here"
    val dir = docsDir(Seq(
      (0L, base, "en", "s", base.length.toLong),          // shorter, lower id
      (1L, longer, "en", "s", longer.length.toLong),      // longer near-dup
      (2L, "totally unrelated content words", "en", "s", 31L)))
    // precondition: 0 and 1 really are one x13 band-bucket group
    val canon = LlmQueries.x13MinhashNearDedup(spark, dir)
      .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(canon(1L) == 0L, "fixture must make 0 and 1 near-dups")
    val out = LlmQueries.x66BestOfDupes(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 1L, longer.length.toLong), // group 0: keeps doc 1, the longer copy
      (2L, 1L, 2L, 31L)))                 // singleton keeps itself
  }

  test("x69: redaction-before-dedup collapses docs that differ only in PII; v2 keeps both") {
    // PII-DENSE twins: filler words alternate with 24 per-doc-distinct
    // emails, so every 3-gram shingle touches an email — pre-redaction the
    // twins share ZERO shingles (no LSH pair, no exact match), while one
    // token of difference would let near-dedup catch them anyway and mask
    // the point. Post-redaction both collapse to the same bytes.
    val mk = (tag: String) =>
      (1 to 24).map(i => s"w$i $tag$i@mail$i.com").mkString(" ") + " w25"
    // ids 6, 9, 11 all pass the final 50% hash sample (md5 prefixes
    // 16/45/65 ≤ 7f), so sampling can't mask the dedup difference
    val dir = docsDir(Seq(
      (6L, mk("alice"), "en", "s", 1L),
      (9L, mk("bob"), "en", "s", 1L), // same text post-redaction
      (11L, (1 to 60).map(i => if (i % 6 == 0) "of" else s"unrelated$i").mkString(" "),
        "en", "s", 1L)))
    val v2 = LlmQueries.x46PrepPipelineV2(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val v3 = LlmQueries.x69PrepPipelineV3(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    // v2 sees two DIFFERENT texts (the emails differ), so both twins
    // survive its exact dedup; v3 redacts first, the texts become
    // byte-identical, and keep-lowest-id leaves only doc 6
    assert(v2 == Set(6L, 9L, 11L), s"v2 must keep both PII twins: $v2")
    assert(v3 == Set(6L, 11L), s"v3 must collapse the twins to the lowest id: $v3")
  }

  test("x67: overlap counts distinct shared hashes per source pair with exact Jaccard") {
    val dir = docsDir(Seq(
      (0L, "shared one", "en", "A", 1L),
      (1L, "shared one", "en", "B", 1L),   // A∩B via "shared one"
      (2L, "shared two", "en", "A", 1L),
      (3L, "shared two", "en", "B", 1L),   // A∩B via "shared two"
      (4L, "shared two", "en", "B", 1L),   // same (h, B) twice: still ONE distinct
      (5L, "shared three", "en", "B", 1L),
      (6L, "shared three", "en", "C", 1L), // B∩C
      (7L, "only a", "en", "A", 1L),
      (8L, "only c", "en", "C", 1L)))
    val out = LlmQueries.x67SourceOverlap(spark, dir)
      .as[(String, String, Long, Double)].collect().toSeq
    // |A|=3, |B|=3, |C|=2 distinct hashes
    assert(out == Seq(
      ("A", "B", 2L, 0.5),                              // 2 / (3+3-2)
      ("B", "C", 1L, math.floor(0.25 * 1e6 + 0.5) / 1e6))) // 1 / (3+2-1)
  }

  test("x68: a doc counts as dup when ANY other doc shares its hash, cross-source included") {
    val dir = docsDir(Seq(
      (0L, "dup text", "en", "A", 1L),
      (1L, "dup text", "en", "A", 1L),   // in-source dup pair
      (2L, "lonely a", "en", "A", 1L),
      (3L, "cross text", "en", "A", 1L),
      (4L, "cross text", "en", "B", 1L), // cross-source: BOTH ends are dup docs
      (5L, "lonely b", "en", "B", 1L)))
    val out = LlmQueries.x68DupRateBySource(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("A", 4L, 3L, 0.75), // docs 0, 1, 3 are dups
      ("B", 2L, 1L, 0.5))) // doc 4 is a dup even though its twin lives in A
  }

  test("x57: containment is 1.0 for a contained doc while its Jaccard is below 1") {
    val base = (0 until 20).map(i => s"tok$i").mkString(" ")
    val dir = docsDir(Seq(
      (0L, base, "en", "s", 1L),
      (1L, base + " junk", "en", "s", 1L), // 19 shingles = doc 0's 18 + 1 new
      (2L, "wholly unrelated words in this document here", "en", "s", 1L)))
    // precondition: the pair must actually be an LSH candidate (18/19 shared
    // shingles -> a shared band bucket is virtually certain, but assert it so
    // a hashing change fails loudly here, not as a silent empty result)
    val bk = LlmQueries.bandBuckets(
      Seq((0L, base, "en", "s", 1L), (1L, base + " junk", "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(r => (r.getInt(1), r.getString(2)) -> r.getLong(0))
    assert(bk.groupBy(_._1).values.exists(g => g.map(_._2).toSet == Set(0L, 1L)),
      "fixture docs 0/1 must share a band bucket")
    val out = LlmQueries.x57Containment(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSeq
    val row = out.find(r => r._1 == 0L && r._2 == 1L)
    assert(row.isDefined, s"candidate pair (0,1) missing: $out")
    val (_, _, n1, n2, nc, ca, cb) = row.get
    assert(n1 == 18L && n2 == 19L && nc == 18L)
    assert(ca == 1.0, "all of doc 0's shingles are inside doc 1")
    assert(cb == math.floor(18.0 / 19.0 * 1e6 + 0.5) / 1e6)
    assert(out.forall(r => !(r._1 == 2L || r._2 == 2L)), "unrelated doc pairs with nobody")
  }
}
