package graft.queries

import graft.SparkSpec
import java.sql.Timestamp

/** Edge semantics of x28-x31 that the sf fixtures never pin down: bucket
  * membership and singleton exclusion (x28), the 30-day boundary and the
  * band-crossing pair (x29), hash-sample determinism against an independent
  * JVM-side MD5 (x30), and the sub-bigram guard + top-5 tie-break (x31).
  */
class NewOpsSpec extends SparkSpec {
  import spark.implicits._

  test("x28: in-bucket nearest neighbor; singleton buckets drop out") {
    val dir = tmpDir("x28").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    Seq(
      (0L, "a", v(1, 1, 1, 1, 1, 1)),
      (1L, "a", v(1, 1, 1, 1, 1, 0.9)),  // bucket 63, near-dup of 0
      (2L, "a", v(-1, -1, -1, -1, -1, -1)), // bucket 0, alone
      (3L, "a", v(1, 1, 1, 1, 1, -1)),   // bucket 62, alone
      (4L, "a", v(1, 1, 1, 1, 1, 0.1))   // bucket 63, farther from 0 than 1
    ).toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x28CosineNeardup(spark, dir)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toSeq
    // singletons 2 and 3 have no in-bucket neighbor → absent from output
    assert(out == Seq((0L, 1L), (1L, 0L), (4L, 1L)))
  }

  test("x29: 30-day boundary inclusive, zero gap excluded, pairs cross bands") {
    val dir = tmpDir("x29").toString
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    Seq(
      (1L, 1L, ts("2024-01-01")),
      (2L, 1L, ts("2024-01-15")),
      (3L, 1L, ts("2024-01-31")), // 30 days after o1: boundary, included
      (4L, 1L, ts("2024-03-15")), // beyond every window
      (5L, 1L, ts("2024-01-15")), // same instant as o2: gap 0, excluded
      (6L, 2L, ts("2024-01-02"))  // other customer, no partner
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = ExtendedQueries.x29RangeJoin(spark, dir)
      .select("k1", "k2", "gap_ms").as[(Long, Long, Long)].collect().toSeq
    val d = 86400000L
    assert(out == Seq(
      (1L, 2L, 14 * d), (1L, 3L, 30 * d), (1L, 5L, 14 * d),
      (2L, 3L, 16 * d), (5L, 3L, 16 * d)))
  }

  test("x32: probes top-2 centroid lists only — a vector in an unprobed list is invisible") {
    val dir = tmpDir("x32").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // centroids are vec_id 1..8; make 1 and 2 the query's probed lists and
    // park a PERFECT duplicate of the query (id 20) on centroid 3's list
    val rows = Seq(
      (0L, "q", v(1, 0, 0, 0, 0, 0)),     // query
      (1L, "c", v(0.9, 0.1, 0, 0, 0, 0)), // probed
      (2L, "c", v(0.8, 0.2, 0, 0, 0, 0)), // probed
      (3L, "c", v(0, 0, 1, 0, 0, 0)),     // unprobed
      (4L, "c", v(0, 0, 0, 1, 0, 0)),
      (5L, "c", v(0, 0, 0, 0, 1, 0)),
      (6L, "c", v(0, 0, 0, 0, 0, 1)),
      (7L, "c", v(0, 1, 0, 0, 0, 0)),
      (8L, "c", v(-1, 0, 0, 0, 0, 0)),
      (10L, "a", v(0.85, 0.15, 0, 0, 0, 0)), // assigned c1/c2 → visible
      (20L, "a", v(1, 0, 0, 0, 0, 0.01)),    // ≈query, assigned c1 → top hit
      (21L, "a", v(0.1, 0, 1, 0, 0, 0))      // assigned c3 → pruned
    )
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = LlmQueries.x32IvfAnn(spark, dir)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.contains(10L), "vector on a probed list must be ranked")
    assert(!got.contains(21L), "vector on an unprobed list must be pruned (IVF recall trade-off)")
    assert(!got.contains(3L) && !got.contains(4L), "unprobed centroids themselves pruned")
  }

  test("x34: each prep stage removes exactly the docs it should") {
    val dir = tmpDir("x34").toString
    def md5hex2(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
    // ≥50 distinct 4-char non-stopword tokens → quality ≈ 0.82 ≥ 0.7.
    // Survivor ids are chosen so the 50% hash sample KEEPS them
    // (md5("6")=16..., md5("9")=45..., both ≤ 7f) — with unsampled ids the
    // expected set degenerates to ∅ and the whole keep-path goes untested.
    val good = (0 until 50).map(i => f"tk$i%02d").mkString(" ")
    val rows = Seq(
      (6L, good, "en", "s", 100L),                 // survives all gates, sampled in
      (1L, good, "fr", "s", 100L),                 // lang gate
      (2L, "the a of to and", "en", "s", 15L),     // quality gate (≈0.11)
      (7L, good, "en", "s", 100L),                 // exact dup of 6 (6 < 7) → dropped
      (9L, good.replace("tk00", "zz99"), "en", "s", 100L) // distinct text, sampled in
    )
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sampled = Set(6L, 9L).filter(id => md5hex2(id.toString) <= "7f")
    assert(sampled.contains(6L) && sampled.contains(9L)) // fixture sanity
    val got = LlmQueries.x34PrepPipeline(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    // doc 9 differs from doc 6 in 1 of 50 tokens; if a minhash band still
    // collides the near-dedup stage may fold it into 6 — both outcomes are
    // legitimate near-dedup behavior, so accept either, but 1/2/7 are
    // deterministic drops and 6 (id-min) always survives to the sample
    assert(!got.contains(1L) && !got.contains(2L) && !got.contains(7L))
    assert(got == sampled || got == sampled - 9L)
    assert(got.contains(6L), "the id-min survivor must reach the output")
  }

  test("x35: identical texts are mutual hamming-0 near-dups; one row per doc") {
    val dir = docsLike(Seq(
      (0L, "alpha beta gamma delta epsilon", "en"),
      (1L, "alpha beta gamma delta epsilon", "en"), // same simhash as 0
      (2L, "zz yy xx ww vv uu tt ss", "en")))
    val out = LlmQueries.x35SimhashPairs(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out.size == 3)
    assert(out(0L)._1 >= 1 && out(0L)._2.contains(1L))
    assert(out(1L)._1 >= 1 && out(1L)._2.contains(0L))
  }

  test("x107: repeated chunks removed keep-first; unique docs untouched; dup doc shrinks") {
    // 20-token chunk A shared by docs 0 and 1 (doc 1's copy must vanish);
    // doc 1 keeps its own unique second chunk; doc 2 is all-unique
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = (1 to 20).map(i => s"b$i").mkString(" ")
    val c = (1 to 7).map(i => s"c$i").mkString(" ")
    val dir = docsLike(Seq((0L, a, "en"), (1L, s"$a $b", "en"), (2L, c, "en")))
    val out = LlmQueries.x107ChunkDedupClean(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(out(0L) == ((1L, 1L, md5hex(a), a.length.toLong)))
    assert(out(1L) == ((2L, 1L, md5hex(b), b.length.toLong))) // chunk A dropped
    assert(out(2L) == ((1L, 1L, md5hex(c), c.length.toLong)))
  }

  test("x108: sources fill to the token budget in hash order, crossing doc included") {
    // one source, 5 docs of 800 tokens each: budget 2000 → exactly the
    // first 3 docs in (md5(doc_id), doc_id) order survive (800+800+800:
    // the third crosses 2000 with pre-sum 1600 < 2000; the fourth's
    // pre-sum 2400 does not)
    val text = (1 to 800).map(i => s"t$i").mkString(" ")
    val dir = docsLike((0L until 5L).map(id => (id, text, "en")))
    val out = LlmQueries.x108TokenBudgetMix(spark, dir).collect()
    val hashOrder = (0L until 5L).sortBy(id => (md5hex(id.toString), id))
    assert(out.map(_.getLong(1)).toSeq == hashOrder.take(3))
    assert(out.map(_.getLong(3)).toSeq == Seq(800L, 1600L, 2400L))
    assert(out.forall(_.getLong(2) == 800L))
  }

  test("x107 property: random planted-chunk corpora match a plain-Scala keep-first fold") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      // docs built from a tiny pool of 20-token blocks, so chunks repeat
      // across docs (and within one doc) at random; some docs get a short
      // tail block that never repeats
      val blocks = (0 until 6).map(b => (1 to 20).map(i => s"b${b}t$i").mkString(" "))
      val docs = (0L until 12L).map { id =>
        val body = (1 to 1 + rnd.nextInt(3)).map(_ => blocks(rnd.nextInt(blocks.size)))
        val tail = if (rnd.nextBoolean()) Seq((1 to 5).map(i => s"u${id}t$i").mkString(" "))
                   else Seq.empty
        (id, (body ++ tail).mkString(" "), "en")
      }
      val dir = docsLike(docs)
      // plain-Scala fold: global keep-first over (doc_id, chunk_idx)
      val chunked = docs.map { case (id, text, _) =>
        id -> text.split(" ").grouped(20).map(_.mkString(" ")).toSeq
      }
      val firstOf = scala.collection.mutable.Map.empty[String, (Long, Int)]
      for ((id, chunks) <- chunked.sortBy(_._1); (ch, c) <- chunks.zipWithIndex)
        if (!firstOf.contains(ch)) firstOf(ch) = (id, c)
      val expected = chunked.map { case (id, chunks) =>
        val kept = chunks.zipWithIndex.collect {
          case (ch, c) if firstOf(ch) == ((id, c)) => ch }
        val clean = kept.mkString(" ")
        (id, chunks.size.toLong, kept.size.toLong, md5hex(clean), clean.length.toLong)
      }
      val got = LlmQueries.x107ChunkDedupClean(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
        .toSeq
      assert(got == expected, s"trial $trial")
      assert(expected.exists(e => e._3 < e._2), "fixture must drop some chunk")
    }
  }

  test("x115: df>=3 chunks stripped everywhere; df=2 dups and uniques survive; all-boiler doc empties") {
    // chunk A in docs 0,1,2 (boiler — every copy goes); chunk B in docs 0,1
    // only (df=2 — dedup's territory, x115 keeps both); doc 3 is pure A so
    // its cleaned text is EMPTY (the coalesce-to-'' contract); doc 4 unique
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = (1 to 20).map(i => s"b$i").mkString(" ")
    val u = (1 to 9).map(i => s"u$i").mkString(" ")
    val dir = docsLike(Seq(
      (0L, s"$a $b", "en"), (1L, s"$b $a", "en"), (2L, s"$a $u", "en"),
      (3L, a, "en"), (4L, (1 to 20).map(i => s"v$i").mkString(" "), "en")))
    val out = LlmQueries.x115BoilerplateStrip(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(out(0L) == ((2L, 1L, md5hex(b), b.length.toLong)))
    assert(out(1L) == ((2L, 1L, md5hex(b), b.length.toLong)))
    assert(out(2L) == ((2L, 1L, md5hex(u), u.length.toLong)))
    assert(out(3L) == ((1L, 1L, md5hex(""), 0L)))
    assert(out(4L)._2 == 0L)
  }

  test("x115 property: random planted-chunk corpora match a plain-Scala df-threshold strip") {
    val rnd = new scala.util.Random(37)
    for (trial <- 1 to 3) {
      val blocks = (0 until 5).map(b => (1 to 20).map(i => s"b${b}t$i").mkString(" "))
      val docs = (0L until 15L).map { id =>
        val body = (1 to 1 + rnd.nextInt(3)).map(_ => blocks(rnd.nextInt(blocks.size)))
        val tail = if (rnd.nextBoolean()) Seq((1 to 5).map(i => s"u${id}t$i").mkString(" "))
                   else Seq.empty
        (id, (body ++ tail).mkString(" "), "en")
      }
      val dir = docsLike(docs)
      val chunked = docs.map { case (id, text, _) =>
        id -> text.split(" ").grouped(20).map(_.mkString(" ")).toSeq }
      val df = chunked.flatMap { case (id, chs) => chs.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (ch, xs) => ch -> xs.size }
      val expected = chunked.map { case (id, chs) =>
        val kept = chs.filter(ch => df(ch) < 3)
        val clean = kept.mkString(" ")
        (id, chs.size.toLong, (chs.size - kept.size).toLong, md5hex(clean), clean.length.toLong)
      }
      val got = LlmQueries.x115BoilerplateStrip(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
        .toSeq
      assert(got == expected, s"trial $trial")
      assert(expected.exists(_._3 > 0), "fixture must strip some boilerplate")
    }
  }

  test("x114: replay equality holds even with a doc_id-range split leaving an empty batch") {
    // ids clustered in the lowest third: batches 2 and 3 are EMPTY — the
    // replay must still emit every doc once with x13-equal canonicals
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val dir = docsLike(Seq(
      (0L, a, "en"), (1L, a, "en"), (2L, s"$a zz", "en"), (90L, "q1 q2 q3 q4", "en")))
    val replay = LlmQueries.x114StreamBatchParity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val batch = LlmQueries.x13MinhashNearDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(replay == batch && replay.count(_._3 == 1) >= 1)
  }

  test("x118: CDC chunks realign after a one-token shift; fixed-stride chunks all break") {
    val rnd = new scala.util.Random(43)
    val words = (1 to 200).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
    // doc 1 = doc 0 with ONE token prepended — the shift every fixed-stride
    // chunker is blind to
    val dir = docsLike(Seq((0L, words, "en"), (1L, s"zz $words", "en")))
    def md5sOf(df: org.apache.spark.sql.DataFrame, id: Long, c: String) =
      df.filter(s"doc_id = $id").select(c).collect().map(_.getString(0)).toSet
    val cdc = LlmQueries.x118CdcChunks(spark, dir)
    val c0 = md5sOf(cdc, 0L, "chunk_md5"); val c1 = md5sOf(cdc, 1L, "chunk_md5")
    val shared = (c0 intersect c1).size
    assert(shared >= c0.size - 2,
      s"CDC must realign: only ${c0.size - shared} of ${c0.size} chunks differ")
    val fixed = LlmQueries.x94RagChunks(spark, dir)
    val f0 = md5sOf(fixed, 0L, "chunk_md5"); val f1 = md5sOf(fixed, 1L, "chunk_md5")
    assert((f0 intersect f1).isEmpty,
      "fixed-stride chunks must ALL break under the shift — the gap x118 closes")
  }

  test("x118: spans tile each doc exactly — contiguous, full-cover, ~8-token mean") {
    val rnd = new scala.util.Random(47)
    val docs = (0L until 8L).map(id =>
      (id, (1 to 30 + rnd.nextInt(200)).map(_ => s"t${rnd.nextInt(99)}").mkString(" "), "en"))
    val dir = docsLike(docs)
    val rows = LlmQueries.x118CdcChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    for ((id, text, _) <- docs) {
      val n = text.split(" ").length
      val spans = rows(id).sortBy(_._2).map(c => (c._3, c._4))
      assert(spans.head._1 == 1L && spans.map(_._2).sum == n,
        s"doc $id: spans must cover all $n tokens")
      spans.sliding(2).foreach { case Array((s1, l1), (s2, _)) =>
        assert(s1 + l1 == s2, s"doc $id: spans must be contiguous")
      case _ => }
    }
    val all = rows.values.flatten
    val mean = all.map(_._4).sum.toDouble / all.size
    assert(mean > 4 && mean < 16, s"mean chunk $mean should sit near the 8-token target")
  }

  test("x117: two-source mix — small source upsampled, weights sum to ~1, allocation floors") {
    // source a: 400 tokens, source b: 100 tokens. sqrt ratio 2:1 → weights
    // 2/3, 1/3 vs natural 0.8, 0.2 — b upsampled ~1.67×, a downsampled
    val dirBase = tmpDir("x117").toString
    Seq(
      (0L, (1 to 400).map(i => s"a$i").mkString(" "), "en", "src_a"),
      (1L, (1 to 100).map(i => s"b$i").mkString(" "), "en", "src_b"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dirBase/documents.parquet")
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val out = LlmQueries.x117MixTemperature(spark, dirBase).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))).toMap
    val (sa, sb) = (r6(math.sqrt(400)), r6(math.sqrt(100)))
    val denom = sa + sb // exact at 6dp: 20.0 + 10.0
    assert(out("src_a") == ((400L, 0.8, r6(sa / denom),
      math.floor(sa / denom * 1e6).toLong, r6((sa / denom) / 0.8))))
    assert(out("src_b") == ((100L, 0.2, r6(sb / denom),
      math.floor(sb / denom * 1e6).toLong, r6((sb / denom) / 0.2))))
    assert(out("src_b")._5 > 1.0 && out("src_a")._5 < 1.0,
      "temperature must upsample the small source")
  }

  test("x110 property: random event times match a plain-Scala fold of the fold grammar") {
    val rnd = new scala.util.Random(31)
    val anchor = 1704067200000000L
    val day = 86400000000L
    val events = (1 to 120).map { i =>
      // spread across Jan 1 .. Feb 4 so every fold boundary and the
      // beyond-window exclusion are all hit; ms-quantized because the
      // java.sql.Timestamp writer below is ms-precision
      (i.toLong, anchor + rnd.nextLong(35L * day / 1000L) * 1000L,
        (rnd.nextInt(5) + 1).toLong, Seq("click", "view")(rnd.nextInt(2)))
    }
    val dir = tmpDir("x110p").toString
    events.map { case (eid, us, u, ty) =>
      (eid, new java.sql.Timestamp(us / 1000), u, ty, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val expected = (for {
      (_, t, u, ty) <- events
      fold <- 0L to 2L
      trainEnd = anchor + (9 + fold * 7) * day
      split <- if (t < trainEnd) Some("train")
               else if (t < trainEnd + day) Some("embargo")
               else if (t < trainEnd + day * 8) Some("test")
               else None
    } yield (fold, split, ty, u, t))
      .groupBy(e => (e._1, e._2, e._3)).toSeq
      .map { case ((f, s, ty), es) =>
        (f, s, ty, es.size.toLong, es.map(_._4).distinct.size.toLong,
          es.map(_._5).min / 1000, es.map(_._5).max / 1000)
      }.sortBy(e => (e._1, e._2, e._3))
    val got = LlmQueries.x110WalkForwardSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected)
    assert(expected.map(_._2).distinct.sorted == Seq("embargo", "test", "train"))
  }

  test("x112: Morton codes interleave bits exactly; buckets carry both-dim extents") {
    val dir = tmpDir("x112").toString
    def dayTs(day: Long): java.sql.Timestamp = // epoch day → Timestamp
      new java.sql.Timestamp(day * 86400000L)
    // corner rows (0,0) and (65535,65535) make the range normalization the
    // IDENTITY, so z values are hand-computable:
    // (u=3, d=1): z = (1·1 + 1·4) | (1·2) = 7 → bucket 0
    // (u=0, d=0): z = 0 → bucket 0
    // (u=1024, d=1024): bit 10 each → z = 2^20 + 2^21 = 3·2^20 → bucket 3
    // (u=65535, d=65535): z = 2^32 − 1 → bucket 4095
    Seq((1L, dayTs(1), 3L, "click", 1.0, "{}"),
        (2L, dayTs(0), 0L, "click", 1.0, "{}"),
        (3L, dayTs(1024), 1024L, "click", 1.0, "{}"),
        (4L, dayTs(65535), 65535L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x112ZorderLayout(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out == Map(
      0L -> ((2L, 0L, 3L, 0L, 1L)),     // rows=2, u∈[0,3], d∈[0,1]
      3L -> ((1L, 1024L, 1024L, 1024L, 1024L)),
      4095L -> ((1L, 65535L, 65535L, 65535L, 65535L))))
  }

  test("x113: ids assigned by frequency then token; OOV -> 0; sequence md5 position-exact") {
    // vocab (25-cap irrelevant at 3 types): "b" n=3 -> id 1, "a" n=2 -> id 2,
    // "c" n=1 -> id 3; doc texts re-encode positionally
    val dir = docsLike(Seq((0L, "a b b", "en"), (1L, "b a c", "en")))
    val out = LlmQueries.x113TokenizeIds(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out == Map(
      0L -> ((3L, 0L, md5hex("2 1 1"))),
      1L -> ((3L, 0L, md5hex("1 2 3")))))
    // OOV path: cap is 25, so force >25 types — 26 rare singletons beyond
    // the frequent pair push the last type out of the vocabulary
    val rare = (1 to 26).map(i => s"r$i")
    val dir2 = docsLike(Seq(
      (0L, ("x " * 30).trim, "en"), (1L, rare.mkString(" "), "en")))
    val got = LlmQueries.x113TokenizeIds(spark, dir2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L)._1 == 30L && got(0L)._2 == 0L)
    assert(got(1L)._1 == 26L && got(1L)._2 == 2L,
      "27 types under a 25-cap: the 2 lexicographically-last singletons are OOV")
    // the OOV ids must appear IN PLACE as 0 (a null-mapped regression would
    // have array_join silently shorten the sequence while counts stay green)
    val idOf = (("x" +: rare.sorted).take(25).zipWithIndex
      .map { case (w, i) => w -> (i + 1L) }).toMap
    assert(got(1L)._3 == md5hex(rare.map(w => idOf.getOrElse(w, 0L)).mkString(" ")))
  }

  test("x109: engine schema view — all 10 tables, ts is TIMESTAMP, embedding is FLOAT[]") {
    val rows = MultimodalQueries.x109SchemaAudit(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(rows.keys.map(_._1).toSet.size == 10)
    assert(rows(("events", "ts")) == "TIMESTAMP")
    assert(rows(("events", "event_id")) == "BIGINT")
    assert(rows(("embeddings", "embedding")) == "FLOAT[]")
    assert(rows(("nation", "n_nationkey")) == "INTEGER")
    assert(rows(("documents", "text")) == "VARCHAR")
    // cardinality canary: one '#rows' row per table, counted from footers
    val nDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(rows(("documents", "#rows")) == nDocs.toString)
    assert(rows(("nation", "#rows")) == "25")
  }

  test("x110: fold boundaries — train/embargo/test assignment per fold, beyond-window excluded") {
    val dir = tmpDir("x110").toString
    def ts(day: Int, hour: Int = 0): java.sql.Timestamp = // Jan `day` 2024 UTC
      new java.sql.Timestamp(
        (1704067200L + (day - 1) * 86400L + hour * 3600L) * 1000L)
    // e1 Jan5 (train all folds), e2 Jan10 12:00 (embargo f0, train f1/f2),
    // e3 Jan15 (test f0, train f1/f2), e4 Jan29 (excluded f0/f1, test f2)
    Seq((1L, ts(5), 10L, "click", 1.0, "{}"), (2L, ts(10, 12), 10L, "click", 1.0, "{}"),
        (3L, ts(15), 20L, "click", 1.0, "{}"), (4L, ts(29), 30L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = LlmQueries.x110WalkForwardSplit(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(
      (0L, "train")   -> ((1L, 1L)), (0L, "embargo") -> ((1L, 1L)),
      (0L, "test")    -> ((1L, 1L)),
      (1L, "train")   -> ((3L, 2L)),
      (2L, "train")   -> ((3L, 2L)), (2L, "test")    -> ((1L, 1L))))
  }

  test("x111: ranks dense from 1, rrf recomputable from the emitted ranks, fused order total") {
    val out = LlmQueries.x111RrfFusion(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    def rankSeq(i: Int) =
      out.flatMap(r => if (r.isNullAt(i)) None else Some(r.getLong(i))).sorted.toSeq
    assert(rankSeq(1) == (1L to rankSeq(1).size) && rankSeq(1).size <= 20)
    assert(rankSeq(2) == (1L to rankSeq(2).size) && rankSeq(2).size <= 20)
    out.foreach { r =>
      val lex = if (r.isNullAt(1)) 0.0 else 1.0 / (60.0 + r.getLong(1))
      val vec = if (r.isNullAt(2)) 0.0 else 1.0 / (60.0 + r.getLong(2))
      assert(r.getDouble(3) == math.floor((lex + vec) * 1e6 + 0.5) / 1e6,
        s"rrf must be exactly the fused rank formula for doc ${r.getLong(0)}")
    }
    val rrfs = out.map(r => (r.getDouble(3), -r.getLong(0)))
    assert(rrfs.sameElements(rrfs.sortBy(t => (-t._1, -t._2))),
      "output must be ordered by rrf desc, doc_id asc")
  }

  private def docsLike(rows: Seq[(Long, String, String)]): String = {
    val dir = tmpDir("docs").toString
    rows.map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("x61: latest event by sequence number wins; keep/update/insert all classified") {
    val dir = tmpDir("x61").toString
    Seq((1L, 100.0), (2L, 200.0)).toDF("c_custkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // user 2: event 7 outranks event 5 by sequence number; user 3 is new
    Seq((5L, 2L, 9.0), (7L, 2L, 11.0), (6L, 3L, 50.0))
      .toDF("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x61MergeUpsert(spark, dir)
      .as[(Long, Option[Double], Double, String)].collect().toSeq
    assert(out == Seq(
      (1L, Some(100.0), 100.0, "keep"),
      (2L, Some(200.0), 11.0, "update"),
      (3L, None, 50.0, "insert")))
  }

  test("x61: NULL-valued latest event is still an update; NULL acctbal is not an insert") {
    val dir = tmpDir("x61null").toString
    // user 1: acctbal legitimately NULL, no delta → keep (NOT insert — the
    // round-6 ADVICE divergence class: classification must come from the
    // join-miss flags, never from a value being NULL)
    // user 2: latest event (seq 9) carries a NULL value → update, and the
    // merge keeps the old value via coalesce
    Seq((1L, None: Option[Double]), (2L, Some(200.0)))
      .toDF("c_custkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((5L, 2L, Some(9.0)), (9L, 2L, None: Option[Double]))
      .toDF("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x61MergeUpsert(spark, dir)
      .as[(Long, Option[Double], Option[Double], String)].collect().toSeq
    assert(out == Seq(
      (1L, None, None, "keep"),
      (2L, Some(200.0), Some(200.0), "update")))
  }

  test("x30: sample matches an independent MD5 of the id, so it is deterministic") {
    val dir = tmpDir("x30").toString
    val rows = (0L until 200L).map(i =>
      (i, s"text $i", if (i % 2 == 0) "en" else "fr", "s", 10L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5hex2(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
    val expect = rows.filter { case (id, _, lang, _, _) =>
      md5hex2(id.toString) <= (if (lang == "en") "1f" else "3f")
    }.map(_._1)
    val got = LlmQueries.x30HashSample(spark, dir)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == expect)
    assert(got.nonEmpty && got.size < rows.size)
  }

  test("x31: bigram counts, sub-2-token guard, top-5 cap with bigram tie-break") {
    val dir = tmpDir("x31").toString
    Seq(
      (0L, "a b a b c", "en", "s", 9L),    // bigrams: "a b"x2, "b a", "b c"
      (1L, "single", "en", "s", 6L),       // 1 token → none
      (2L, "", "en", "s", 0L),             // split("") = [""] → none
      (3L, "t1 t2 t3 t4 t5 t6 t7", "fr", "s", 20L) // 6 distinct, top-5 kept
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x31BigramStats(spark, dir)
      .as[(String, String, Long)].collect().toSeq
    assert(out.filter(_._1 == "en") ==
      Seq(("en", "a b", 2L), ("en", "b a", 1L), ("en", "b c", 1L)))
    val fr = out.filter(_._1 == "fr")
    assert(fr == Seq(("fr", "t1 t2", 1L), ("fr", "t2 t3", 1L),
      ("fr", "t3 t4", 1L), ("fr", "t4 t5", 1L), ("fr", "t5 t6", 1L)))
  }

  test("x60 split-striped packing: stripes = input splits, bins never cross stripes, tokens conserved") {
    import org.apache.spark.sql.functions.col
    // 100 docs, i%7+1 tokens each, spread over 4 input partitions
    val docs = (1L to 100L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text").repartition(4, col("doc_id"))
    val manifest = LlmQueries.sequencePackBySplit(docs, budget = 16L).collect()

    // parallelism equals split count: exactly the input's 4 partition ids
    val stripes = manifest.map(_.getAs[Long]("stripe")).distinct.sorted
    assert(stripes.toSeq == Seq(0L, 1L, 2L, 3L))

    // every doc lands in exactly one bin, and tokens are conserved —
    // globally and per stripe, against an independent per-partition recount
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == 100L)
    val expectTokens = docs.rdd.mapPartitionsWithIndex { (pid, rows) =>
      Iterator(pid.toLong -> rows.map(_.getAs[String]("text").split(" ").length.toLong).sum)
    }.collect().toMap
    val gotTokens = manifest.groupBy(_.getAs[Long]("stripe"))
      .view.mapValues(_.map(_.getAs[Long]("bin_tokens")).sum).toMap
    assert(gotTokens == expectTokens.filter(_._2 > 0))

    // within a stripe, bins chunk docs in doc_id order: contiguous bin
    // numbers from 0, and id ranges strictly ordered (never overlapping —
    // the "bins never cross stripes, nor interleave" packing invariant)
    manifest.groupBy(_.getAs[Long]("stripe")).foreach { case (_, rows) =>
      val byBin = rows.sortBy(_.getAs[Long]("bin"))
      assert(byBin.map(_.getAs[Long]("bin")).toSeq == byBin.indices.map(_.toLong))
      byBin.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ => ()
      }
    }
  }

  test("x70: consecutive repeats collapse (nulls included), intervals chain, one open row per user") {
    val dir = tmpDir("x70").toString
    // fixture values never repeat consecutively, so the IS DISTINCT FROM
    // collapse and the null-after-null repeat are pinned here
    Seq[(Long, Long, Option[Double])](
      (10L, 1L, Some(5.0)),
      (20L, 1L, Some(5.0)),  // repeat → collapsed
      (30L, 1L, None),       // change to null → version 2
      (40L, 1L, None),       // null after null: a REPEAT, not a change
      (50L, 1L, Some(7.0)),  // version 3, open
      (60L, 2L, Some(1.0)),  // single-event user: one open version
      (70L, 3L, None),       // FIRST value null: still version 1 (the
      (80L, 3L, Some(2.0))   // lag-vs-null trap the property test caught)
    ).toDF("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x70Scd2History(spark, dir)
      .select("user_id", "version", "value", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getLong(3),
        Option(r.get(4)), r.getInt(5)))
      .toSeq
    assert(out == Seq(
      (1L, 1L, Some(5.0), 10L, Some(30L), 0),
      (1L, 2L, None,      30L, Some(50L), 0),
      (1L, 3L, Some(7.0), 50L, None,      1),
      (2L, 1L, Some(1.0), 60L, None,      1),
      (3L, 1L, None,      70L, Some(80L), 0),
      (3L, 2L, Some(2.0), 80L, None,      1)))
  }

  test("x71: every status classified against an independent JVM-side replay of the snapshot rules") {
    val dir = tmpDir("x71").toString
    val docs = (1L to 200L).map(i => (i, s"text body number $i", "en", s"src${i % 3}", 18L + i.toString.length))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent replay: plain-JVM md5 + the mod rules, no Spark involved
    val expected = docs.flatMap { case (id, text, _, source, nChars) =>
      val inOld = id % 7 != 0
      val inCur = id % 11 != 0
      val changed = md5hex(id.toString).charAt(0) <= '2'
      val hOld = md5hex(if (changed) text.substring(0, math.max((nChars / 2).toInt, 1)) else text)
      (inOld, inCur) match {
        case (false, true)  => Some(source -> "added")
        case (true, false)  => Some(source -> "removed")
        case (true, true)   => Some(source -> (if (hOld == md5hex(text)) "unchanged" else "changed"))
        case (false, false) => None
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = LlmQueries.x71SnapshotDiff(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    // the synthetic ids must actually exercise all four statuses
    assert(expected.keySet.map(_._2) == Set("added", "removed", "changed", "unchanged"))
  }

  test("x72: vocabulary-weighted pair counts equal a direct token-stream recount") {
    val dir = tmpDir("x72").toString
    Seq(
      (1L, "ab ab b aaa"),  // "b" is sub-2-char → contributes no pair
      (2L, "ab ba")
    ).map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = LlmQueries.x72BpePairs(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    // ab×3 → "ab":3; ba×1 → "ba":1; aaa → "aa":2; order (count desc, pair asc)
    assert(got == Seq("ab" -> 3L, "aa" -> 2L, "ba" -> 1L))

    // and on the real fixture: the vocabulary-collapsed computation must
    // equal the naive O(corpus-tokens) explosion it replaces
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val naive = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(col("word"), explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("pair_count"))
      .orderBy(desc("pair_count"), col("pair")).limit(20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val fast = LlmQueries.x72BpePairs(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(fast == naive)
  }

  test("x70 property: random event streams (null runs, repeats) match a plain-Scala SCD-2 fold") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      // values from a 4-element set incl. None so consecutive repeats and
      // null-after-null runs actually occur
      val events = (1 to 60).map { i =>
        (i.toLong * 10, (rnd.nextInt(4) + 1).toLong,
          rnd.nextInt(4) match { case 0 => None; case v => Some(v.toDouble) })
      }
      val dir = tmpDir("x70p").toString
      events.toDF("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // independent plain-Scala fold of the same rule set
      val expected = events.groupBy(_._2).toSeq.flatMap { case (user, evs) =>
        val changes = evs.sortBy(_._1).foldLeft(List.empty[(Long, Option[Double])]) {
          case (acc, (eid, _, v)) =>
            if (acc.headOption.exists(_._2 == v)) acc else (eid, v) :: acc
        }.reverse
        changes.zipWithIndex.map { case ((eid, v), i) =>
          val validTo = changes.lift(i + 1).map(_._1)
          (user, (i + 1).toLong, v, eid, validTo, if (validTo.isEmpty) 1 else 0)
        }
      }.sortBy(r => (r._1, r._2))
      val got = ExtendedQueries.x70Scd2History(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]), r.getInt(5)))
        .toSeq
      assert(got == expected)
    }
  }

  test("x74 property: batch funnel equals the pure streaming fold on random event streams") {
    import graft.streaming.StreamingFunnel
    val rnd = new scala.util.Random(11)
    val types = Seq("view", "click", "purchase", "signup", "error")
    for (_ <- 1 to 5) {
      val events = (1 to 80).map { i =>
        ((rnd.nextInt(6) + 1).toLong, types(rnd.nextInt(types.length)),
          (rnd.nextInt(40) + 1).toLong * 10)
      }.distinct // duplicate (user, type, ts) rows don't change the funnel but keep the ref simple
      val dir = tmpDir("x74p").toString
      events.zipWithIndex.map { case ((u, t, ts), i) => (i.toLong, u, t, ts) }
        .toDF("event_id", "user_id", "event_type", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = ExtendedQueries.x74Funnel(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // independent reference: StreamingFunnel's pure fold over each user's
      // time-sorted events (the exact rule the stream applies)
      val folded = events.groupBy(_._1).values.toSeq.flatMap { evs =>
        val sorted = evs.sortBy(_._3).map { case (u, t, ts) =>
          StreamingFunnel.FunnelEvent(u, t, ts) }
        StreamingFunnel.foldSorted(sorted.head.userId, sorted,
          StreamingFunnel.FunnelState(None, None, None))._1
      }
      val ref = folded.groupBy(_.stage).view.mapValues(_.size.toLong).toMap
      assert(batch.filter(_._2 > 0) == ref)
    }
  }

  test("x75 property: retention triangle equals a plain-Scala cohort fold on random streams") {
    val rnd = new scala.util.Random(13)
    val anchor = 1704067200000000000L
    val week   = 604800000000000L
    for (_ <- 1 to 5) {
      val events = (1 to 60).map { _ =>
        ((rnd.nextInt(5) + 1).toLong,
          anchor + rnd.nextInt(40).toLong * (week / 7) + rnd.nextInt(1000).toLong)
      }
      val dir = tmpDir("x75p").toString
      events.zipWithIndex.map { case ((u, ts), i) => (i.toLong, u, "view", ts) }
        .toDF("event_id", "user_id", "event_type", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val expected = {
        val byUser = events.groupBy(_._1)
        val cohort = byUser.view.mapValues(evs => (evs.map(_._2).min - anchor) / week).toMap
        events.map { case (u, ts) => (u, (ts - anchor) / week) }.distinct
          .groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
          .view.mapValues(_.size.toLong).toMap
      }
      val got = ExtendedQueries.x75Retention(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expected)
    }
  }

  test("x81: 5-min boundary inclusive, 1µs over excluded, equal-ts peers in-frame, earliest peak on ties") {
    val dir = tmpDir("x81").toString
    val m = 60000000000L // one minute in ns (query truncates to µs)
    Seq(
      // user 1: events at 0, 5m (boundary: in-frame with 0), 10m+1µs
      // (frame holds 5m only — 0 is 5m+1µs back, out)
      (1L, 1L, "view", 0L), (2L, 1L, "view", 5 * m), (3L, 1L, "view", 10 * m + 1000),
      // user 2: equal-ts peers both count (burst 2 at ts=0 for both
      // peers); a lone later event leaves the peak at the earliest ts
      (4L, 2L, "view", 0L), (5L, 2L, "view", 0L), (6L, 2L, "view", 60 * m)
    ).toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x81BurstDetect(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 3L, 2L, 5 * m / 1000), // peak burst 2 first reached at the 5m event (µs)
      (2L, 3L, 2L, 0L)))          // both ts=0 peers see burst 2; peak at 0
  }

  test("x79: low-df terms keep their whole posting list; repeats within a doc post once; head caps at 20") {
    val dir = tmpDir("x79").toString
    // 25 docs all share "common" (head caps at 20 of 25); doc 3 repeats
    // "rare" three times (one posting, not three); numeric-order head
    // (doc 10 sorts after 9, unlike lexicographic)
    val docs = (1L to 25L).map { i =>
      val text = if (i == 3L) "common rare rare rare" else "common"
      (i, text, "en", "s0", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x79InvertedIndex(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(out == Seq(
      ("common", 25L, (1L to 20L).mkString("|")),
      ("rare", 1L, "3")))
  }

  test("x74: stages attribute strictly-after only — same-instant and pre-view events don't convert") {
    val dir = tmpDir("x74").toString
    Seq(
      // user 1: full funnel, strictly ordered
      (1L, 1L, "view", 100L), (2L, 1L, "click", 200L), (3L, 1L, "purchase", 300L),
      // user 2: click BEFORE the first view → no stage-2
      (4L, 2L, "click", 100L), (5L, 2L, "view", 200L),
      // user 3: click at the SAME ns as the view → strict > excludes it
      (6L, 3L, "view", 100L), (7L, 3L, "click", 100L),
      // user 4: converts on the SECOND click (first is too early), then
      // purchases after that first QUALIFYING click
      (8L, 4L, "click", 50L), (9L, 4L, "view", 100L), (10L, 4L, "click", 150L),
      (11L, 4L, "purchase", 200L),
      // user 5: purchase before the qualifying click → no stage-3
      (12L, 5L, "view", 100L), (13L, 5L, "purchase", 150L), (14L, 5L, "click", 200L)
    ).toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x74Funnel(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(out == Seq("1_view" -> 5L, "2_click" -> 3L, "3_purchase" -> 2L))
  }

  test("x75: cohort is the FIRST week; week-boundary ns lands in the next week; users dedupe per week") {
    val dir = tmpDir("x75").toString
    val anchor = 1704067200000000000L
    val week   = 604800000000000L
    Seq(
      // user 1: first event mid-week-0, active twice in week 0 (dedupes),
      // again in week 2
      (1L, 1L, "view", anchor + 10L), (2L, 1L, "view", anchor + 20L),
      (3L, 1L, "view", anchor + 2 * week + 5L),
      // user 2: first event EXACTLY on the week-1 boundary → cohort 1
      (4L, 2L, "view", anchor + week),
      // user 3: last ns of week 0 → cohort 0
      (5L, 3L, "view", anchor + week - 1L)
    ).toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x75Retention(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 0L, 2L), (0L, 2L, 1L), (1L, 0L, 1L)))
  }

  private def docsDf(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.map { case (id, t) => (id, t, "en", "srcT", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def shingles(t: String): Set[String] = {
    val w = t.split(" ")
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  test("x83: window-distance-4 dup missed, cross-block dup missed, adjacent dup found") {
    val dir = tmpDir("x83").toString
    // 40-char prefixes: block = first 8 chars, sort key = first 40
    val pA = "aaaa bbbb cccc dddd eeee ffff gggg hhhh!" // blockA, 40 chars
    val pB = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss!" // blockB
    val junk = (n: Int) => (0 until 20).map(i => s"j${n}w$i").mkString(" ")
    val tail = (0 until 20).map(i => s"tw$i").mkString(" ")
    docsDf(dir, Seq(
      // blockA: six docs with the IDENTICAL 40-char sort key (ties order by
      // doc_id), so 10 and 15 — the only true dups — sit 5 apart: missed
      10L -> s"$pA $tail", 11L -> s"$pA ${junk(1)}", 12L -> s"$pA ${junk(2)}",
      13L -> s"$pA ${junk(3)}", 14L -> s"$pA ${junk(4)}", 15L -> s"$pA $tail",
      // blockB: adjacent near-identical pair → found
      30L -> s"$pB $tail end30", 31L -> s"$pB $tail end31",
      // same text as 30 but the first 8 chars differ → other block, alone
      40L -> s"qqqq bbb ${pA.drop(9)} $tail end30"))
    val out = LlmQueries.x83SortedNeighborhood(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((30L, 31L)),
      s"expected exactly the adjacent blockB pair, got ${out.toSeq}")
    // independent JVM-side Jaccard of the found pair
    val (s30, s31) = (shingles(s"$pB $tail end30"), shingles(s"$pB $tail end31"))
    val common = (s30 & s31).size
    val jac = common.toDouble / (s30.size + s31.size - common)
    assert(out.head._3 == common.toLong)
    assert(out.head._4 == math.floor(jac * 1e6 + 0.5) / 1e6)
    // the missed dup really is a dup — SNM's documented window-distance miss
    val (sh10, sh15) = (shingles(s"$pA $tail"), shingles(s"$pA $tail"))
    assert((sh10 & sh15).size.toDouble / sh10.size >= 0.4)
  }

  test("x84: every candidate's lev matches a plain-Scala DP; gate splits at rounded 0.95") {
    val dir = tmpDir("x84").toString
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val texts = Map(
      1L -> base,
      2L -> base,                  // exact dup: lev 0, sim 1, is_dup 1
      // appended tokens: minhash minima survive (append-only can only add
      // smaller hashes), so bands still collide, but lev ≈ 21/196 → sim
      // ≈ 0.893 < the 0.95 gate — the is_dup=0 branch
      3L -> (base + " extra1 extra2 extra3"),
      4L -> (0 until 30).map(i => s"other$i").mkString(" ")) // unrelated
    docsDf(dir, texts.toSeq.sortBy(_._1))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val out = LlmQueries.x84EditGate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"identical + appended-token docs must all be LSH candidates, got ${out.toSeq}")
    out.foreach { case (d1, d2, l, sim, dup) =>
      val (t1, t2) = (texts(d1), texts(d2))
      assert(l == lev(t1, t2).toLong, s"($d1,$d2)")
      val expSim = math.floor((1.0 - l.toDouble / math.max(t1.length, t2.length)) * 1e6 + 0.5) / 1e6
      assert(sim == expSim)
      assert(dup == (if (expSim >= 0.95) 1 else 0))
    }
    assert(out.exists(_._5 == 1) && out.exists(_._5 == 0),
      "fixture must exercise both gate branches")
  }

  test("x85: chi-square equals a plain-Scala fold over x16's scores, zero cells included") {
    val dir = tmpDir("x85").toString
    // srcLow clusters in low bins, srcHigh in high ones → real drift signal;
    // sources are spread over bins the OTHER source never occupies, so the
    // dense grid's zero-observation cells carry real chi-square mass
    val rows = (0 until 12).map { i =>
      val nTok = if (i < 6) 3 + i else 40 + i  // short docs score low
      (100L + i, (0 until nTok).map(j => s"w${i}t$j").mkString(" "),
        "en", if (i < 6) "srcLow" else "srcHigh", 10L)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val score = LlmQueries.x16QualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("quality_score"))).toMap
    val srcOf = rows.map(r => r._1 -> r._4).toMap
    val cells = rows.groupBy(r => (r._4, math.min(math.floor(score(r._1) * 10).toInt, 9)))
      .map { case (k, v) => k -> v.size }
    val bins = cells.keys.map(_._2).toSeq.distinct
    val srcN = cells.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val binN = cells.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val n = cells.values.sum
    val expected = srcN.map { case (s, sn) =>
      val chi2 = bins.map { b =>
        val obs = cells.getOrElse((s, b), 0).toDouble
        val exp = sn.toDouble * binN(b).toDouble / n.toDouble
        BigDecimal(math.floor((obs - exp) * (obs - exp) / exp * 1e6 + 0.5) / 1e6)
          .setScale(6)
      }.sum.toDouble
      s -> (sn.toLong, chi2)
    }
    val out = LlmQueries.x85SourceDrift(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == expected)
    assert(srcOf.values.toSet.size == 2 && out("srcLow")._2 > 0.0)
  }

  test("x86: cross-label in-bucket pairs only; same-label and cross-bucket pairs invisible") {
    val dir = tmpDir("x86").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    Seq(
      (0L, 1, v(1, 1, 1, 1, 1, 1)),      // bucket 63, label 1
      (1L, 2, v(1, 1, 1, 1, 1, 0.9)),    // bucket 63, label 2 → pair (1,2)
      (2L, 1, v(1, 1, 1, 1, 1, 0.8)),    // bucket 63, label 1: same-label vs 0
      (3L, 2, v(-1, -1, -1, -1, -1, -1)) // bucket 0: alone, no partner
    ).toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x86LeakageAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // vecs 0 and 2 (both label 1) pair with 1 (label 2): two cross pairs
    assert(out.toSeq == Seq((1L, 2L, 2L)))
  }

  test("x83 property: random planted-dup corpora match a plain-Scala SNM fold") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      // docs over 3 blocks; ~1/3 are suffix-perturbed near-copies of an
      // earlier doc in the same block, so adjacency is real but not
      // guaranteed — exactly the regime SNM's window cap bites in
      val blocks = Seq("blka yyy", "blkb yyy", "blkc yyy")
      val base = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      (0 until 24).foreach { i =>
        val id = 100L + i
        val t =
          if (i >= 3 && rnd.nextInt(3) == 0) {
            val (_, src) = base(rnd.nextInt(base.size))
            src.split(" ").dropRight(1).mkString(" ") + s" cp$i" // near-copy
          } else {
            val b = blocks(rnd.nextInt(3))
            b + " " + (0 until 15).map(j => s"t${trial}x${i}w$j").mkString(" ")
          }
        base += id -> t
      }
      val dir = tmpDir("x83p").toString
      docsDf(dir, base.toSeq)
      // plain-Scala SNM: block on first 8 chars, sort by (first 40, id),
      // window 3, exact shingle jaccard at 0.4
      val expected = base.groupBy(_._2.take(8)).toSeq.flatMap { case (_, ds) =>
        val ord = ds.sortBy(d => (d._2.take(40), d._1))
        for {
          i <- ord.indices; k <- 1 to 3; if i + k < ord.size
          (ida, ta) = ord(i); (idb, tb) = ord(i + k)
          (sa, sb) = (shingles(ta), shingles(tb))
          common = (sa & sb).size
          if sa.nonEmpty || sb.nonEmpty
          jac = common.toDouble / (sa.size + sb.size - common)
          if jac >= 0.4
        } yield (math.min(ida, idb), math.max(ida, idb),
          common.toLong, math.floor(jac * 1e6 + 0.5) / 1e6)
      }.sortBy(p => (p._1, p._2))
      val got = LlmQueries.x83SortedNeighborhood(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == expected, s"trial $trial")
      assert(expected.nonEmpty || trial > 0) // planted copies usually pair up
    }
  }

  test("x90 property: random event streams match a plain-Scala greedy packing fold") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 4) {
      // values spanning the budget (some singletons > 100), plus nulls and
      // negatives that the filter must drop before packing
      val events = (1 to 80).map { i =>
        val v = rnd.nextInt(5) match {
          case 0 => None
          case 1 => Some(-5.0 - rnd.nextInt(10))
          case 2 => Some(110.0 + rnd.nextDouble() * 30)
          case _ => Some(rnd.nextDouble() * 60)
        }
        (i.toLong * 3, (rnd.nextInt(4) + 1).toLong, v)
      }
      val dir = tmpDir("x90p").toString
      events.toDF("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val expected = events
        .collect { case (eid, u, Some(v)) if v >= 0 => (eid, u, v) }
        .groupBy(_._2).toSeq.flatMap { case (user, evs) =>
          val packs = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)] // (n, acc)
          evs.sortBy(_._1).take(12).foreach { case (_, _, v) =>
            if (packs.nonEmpty && packs.last._2 + v <= 100.0)
              packs(packs.size - 1) = (packs.last._1 + 1, packs.last._2 + v)
            else packs += ((1, v))
          }
          packs.zipWithIndex.map { case ((n, acc), i) =>
            (user, i + 1, n.toLong, math.floor(acc * 1e6 + 0.5) / 1e6) }
        }.sortBy(r => (r._1, r._2))
      val got = ExtendedQueries.x90GreedyPack(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == expected, s"trial $trial")
      assert(expected.exists(_._3 > 1) && expected.count(_._2 > 1) > 0,
        "fixture must exercise multi-event packs and resets")
    }
  }

  test("x91: both directions, gap ties to backward, same-instant max-id, null edges") {
    val dir = tmpDir("x91").toString
    val us = 1000L // µs in ns (fixture writes ns; query compares at µs)
    Seq(
      // user 1: forward strictly closer (back gap 20µs, fwd gap 10µs)
      (1L, 1L, "view", 10 * us), (2L, 1L, "error", 30 * us), (3L, 1L, "view", 40 * us),
      // user 2: equal gaps (10µs both ways) — tie resolves backward
      (4L, 2L, "view", 0L), (5L, 2L, "error", 10 * us), (6L, 2L, "view", 20 * us),
      // user 3: two non-errors at the error's own instant — both directions
      // see gap 0 and both pick the max event_id (9, not 8)
      (7L, 3L, "error", 5 * us), (8L, 3L, "view", 5 * us), (9L, 3L, "view", 5 * us),
      // user 4: backward only (no later non-error)
      (10L, 4L, "error", 100 * us), (11L, 4L, "view", 1 * us),
      // user 5: errors only — direction 'none', null nearest/gap
      (12L, 5L, "error", 0L),
      // user 6: forward only
      (13L, 6L, "error", 50 * us), (14L, 6L, "view", 70 * us)
    ).toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x91NearestEvent(spark, dir).collect().map { r =>
      def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (r.getLong(0), optL(3), optL(4), r.getString(5), optL(6), optL(7))
    }.toSeq
    assert(out == Seq(
      (2L, Some(1L), Some(3L), "forward", Some(3L), Some(10L)),
      (5L, Some(4L), Some(6L), "backward", Some(4L), Some(10L)),
      (7L, Some(9L), Some(9L), "backward", Some(9L), Some(0L)),
      (10L, Some(11L), None, "backward", Some(11L), Some(99L)),
      (12L, None, None, "none", None, None),
      (13L, None, Some(14L), "forward", Some(14L), Some(20L))))
  }

  test("x92: own-change inclusive, null-valued versions carried, repeat staleness") {
    val dir = tmpDir("x92").toString
    Seq(
      // user 1: versions 5.0 | 7.0 | null | 7.0 (e2 repeats, e5 repeats null)
      (1L, 1L, "view", Some(5.0)), (2L, 1L, "click", Some(5.0)),
      (3L, 1L, "error", Some(7.0)), (4L, 1L, "view", None),
      (5L, 1L, "error", None), (9L, 1L, "error", Some(7.0)),
      // user 2: FIRST event is a null-valued error — rn=1 change, struct
      // wrapper must carry the null version (ignoreNulls would skip a bare
      // null value)
      (6L, 2L, "error", None),
      // user 3: error probes a repeat — staleness spans back to the change
      (7L, 3L, "view", Some(3.0)), (8L, 3L, "error", Some(3.0))
    ).toDF("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x92TemporalLookup(spark, dir).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4), r.getLong(5))
    }.toSeq
    assert(out == Seq(
      (3L, 1L, 2L, Some(7.0), 3L, 0L), // probe AT its own change: new version, staleness 0
      (5L, 1L, 3L, None, 4L, 1L),      // null version in effect, carried not skipped
      (6L, 2L, 1L, None, 6L, 0L),      // opening observation is version 1 even when null
      (8L, 3L, 1L, Some(3.0), 7L, 1L), // repeat probe reaches back to the change
      (9L, 1L, 4L, Some(7.0), 9L, 0L)))// null→7.0 is a change (IS DISTINCT FROM)
  }

  test("x93: window boundaries at day 6/7, quiet days unreported, stickiness exact") {
    val dir = tmpDir("x93").toString
    val d = 86400000000000L // one day in ns
    Seq( // (event_id, user_id, ts): u1 on days 0+7, u2 on day 0, u3 on days 5+6
      (1L, 1L, 0L * d), (2L, 2L, 0L * d + 1000L), (3L, 3L, 5L * d),
      (4L, 3L, 6L * d + 5000L), (5L, 1L, 7L * d)
    ).toDF("event_id", "user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x93RollingDau(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      (0L, 2L, 2L, 1.0),      // trailing window has only day 0
      (5L, 1L, 3L, 0.333333), // [−1..5] holds days 0 and 5: users 1,2,3
      (6L, 1L, 3L, 0.333333), // day-0 pairs still in [0..6]
      (7L, 1L, 2L, 0.5)))     // day 0 ages OUT of [1..7]; days 3/4 quiet → absent
  }

  test("x96: step weighting, null obs dropped, single/zero-span excluded, same-ts tie-break") {
    val dir = tmpDir("x96").toString
    Seq( // (event_id, user_id, ts_ns, value)
      // user 1: 10.0 holds 4µs, 20.0 holds 6µs, last obs spans zero
      (1L, 1L, 0L, Some(10.0)), (2L, 1L, 4000L, Some(20.0)), (3L, 1L, 10000L, Some(0.0)),
      // user 2: single observation — no interval, excluded
      (4L, 2L, 0L, Some(9.0)),
      // user 3: two obs at the same instant — zero span, excluded
      (5L, 3L, 0L, Some(1.0)), (6L, 3L, 0L, Some(2.0)),
      // user 4: null observation defines no level and is dropped entirely
      (7L, 4L, 0L, None), (8L, 4L, 2000L, Some(5.0)), (9L, 4L, 6000L, Some(7.0)),
      // user 5: same-ts pair ordered by event_id — 100.0 holds ZERO time
      // (the 0.0 peer at the same instant supersedes it), 0.0 holds 5µs
      (10L, 5L, 0L, Some(100.0)), (11L, 5L, 0L, Some(0.0)), (12L, 5L, 5000L, Some(1.0))
    ).toDF("event_id", "user_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x96TimeWeightedAvg(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      (1L, 3L, 10L, 16.0), // (10·4 + 20·6) / 10
      (4L, 2L, 4L, 5.0),   // 5.0 holds the whole 4µs span
      (5L, 3L, 5L, 0.0)))  // the same-instant 100.0 contributes nothing
  }

  test("x97: hand-computed medians, even-count interpolation, MAD=0 fence") {
    val dir = tmpDir("x97").toString
    val rows =
      Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(v => ("a", Some(v))) ++
      Seq(1.0, 2.0, 3.0, 10.0).map(v => ("b", Some(v))) ++
      Seq(5.0, 5.0, 5.0).map(v => ("c", Some(v))) :+ (("c", None))
    rows.toDF("event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x97MadOutliers(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      ("a", 3.0, 1.0, 5L, 1L), // med 3, absdev {2,1,0,1,97}, mad 1, 97 > 3
      ("b", 2.5, 1.0, 4L, 1L), // even counts interpolate: med (2+3)/2, mad (0.5+1.5)/2
      ("c", 5.0, 0.0, 3L, 0L)))// MAD 0: fence at 0, strict > keeps equals in
  }

  test("x94: chunk counts at the 32/33 boundary, overlap slices, content md5") {
    val dir = tmpDir("x94").toString
    def toks(n: Int): String = (1 to n).map(i => s"t$i").mkString(" ")
    docsDf(dir, Seq(1L -> toks(10), 2L -> toks(32), 3L -> toks(33), 4L -> toks(81)))
    val out = LlmQueries.x94RagChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq
    def chunk(n: Int, start: Int): String =
      (start + 1 to math.min(start + 32, n)).map(i => s"t$i").mkString(" ")
    assert(out == Seq(
      (1L, 0L, 0L, 10L, md5hex(chunk(10, 0))),   // short doc: one whole-doc chunk
      (2L, 0L, 0L, 32L, md5hex(chunk(32, 0))),   // exactly 32: still one chunk
      (3L, 0L, 0L, 32L, md5hex(chunk(33, 0))),   // 33: second chunk opens at 24
      (3L, 1L, 24L, 9L, md5hex(chunk(33, 24))),  //   carrying the 8-token overlap
      (4L, 0L, 0L, 32L, md5hex(chunk(81, 0))),
      (4L, 1L, 24L, 32L, md5hex(chunk(81, 24))),
      (4L, 2L, 48L, 32L, md5hex(chunk(81, 48))),
      (4L, 3L, 72L, 9L, md5hex(chunk(81, 72)))))
  }

  test("x95: dominated dropped, equal-pair tie keeps lowest doc_id, per-source frontiers") {
    val dir = tmpDir("x95").toString
    Seq( // (doc_id, text → richness, lang, source, n_chars — stored, not derived)
      (1L, Some("a b c"), "en", "sA", 10L),       // rich 3 at nc 10: DOMINATED by d5
      (2L, Some("a a b"), "en", "sA", 20L),       // rich 2 at nc 20: dominated by d1
      (3L, Some("a b c d e"), "en", "sA", 20L),   // rich 5 at nc 20: frontier
      (4L, Some("v w x y z"), "en", "sA", 20L),   // equal (20, 5) pair: higher id dropped
      (5L, Some("x y z"), "en", "sA", 5L),        // rich 3 at nc 5: frontier
      (6L, None, "en", "sA", 99L),                // null text excluded
      (10L, Some("q"), "en", "sB", 7L)            // singleton source: trivially frontier
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x95ParetoFrontier(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(("sA", 5L, 5L, 3L), ("sA", 3L, 20L, 5L), ("sB", 10L, 7L, 1L)))
  }

  test("x98: checksum matches a plain-Scala sum; any single-row corruption moves it") {
    val dir = tmpDir("x98").toString
    val rows = Seq( // nulls in every coalesced column
      (1L, Some("hello world"), Some("en"), "sA", Some(11L)),
      (2L, None, Some("en"), "sA", Some(0L)),
      (3L, Some("guten tag"), None, "sA", None),
      (4L, Some("bonjour"), Some("fr"), "sB", Some(7L)))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def fp(r: (Long, Option[String], Option[String], String, Option[Long])): Long =
      java.lang.Long.parseLong(md5hex(
        s"${r._1}|${r._2.getOrElse("")}|${r._3.getOrElse("")}|${r._4}|${r._5.getOrElse(-1L)}"
      ).take(8), 16)
    val expected = rows.groupBy(_._4).map { case (src, rs) =>
      (src, rs.size.toLong, rs.map(fp).sum) }.toSeq.sortBy(_._1)
    val out = LlmQueries.x98TableChecksum(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == expected)
    // corruption sensitivity: flipping one char of one row changes the sum
    assert(fp((1L, Some("hello worle"), Some("en"), "sA", Some(11L))) !=
      fp((1L, Some("hello world"), Some("en"), "sA", Some(11L))))
  }

  test("x99: transitions sequence by event_id, per-from normalization, singletons drop") {
    val dir = tmpDir("x99").toString
    Seq( // rows deliberately OUT of event_id order: sequence must come
         // from the window sort, not file order
      (3L, 1L, "A"), (1L, 1L, "A"), (4L, 1L, "B"), (2L, 1L, "B"),
      // user 1 ordered: A(1) B(2) A(3) B(4) → A→B ×2, B→A ×1
      (5L, 2L, "B"), (6L, 2L, "B"),   // B→B ×1
      (7L, 3L, "C")                   // singleton user: no transitions
    ).toDF("event_id", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x99MarkovTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(out == Seq(
      ("A", "B", 2L, 1.0),
      ("B", "A", 1L, 0.5),
      ("B", "B", 1L, 0.5)))
  }

  test("x100: orthogonal labels cos 0, scaled copies cos from known geometry") {
    val dir = tmpDir("x100").toString
    def vec(xs: Seq[Float]): Array[Float] = xs.toArray
    Seq( // label 0 sums to (2,0); label 1 to (0,1); label 2 to (3,4)
      (1L, vec(Seq(1f, 0f)), 0), (2L, vec(Seq(1f, 0f)), 0),
      (3L, vec(Seq(0f, 1f)), 1),
      (4L, vec(Seq(3f, 4f)), 2)
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x100CentroidDrift(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(out == Seq( // cos((2,0),(0,1))=0; cos((2,0),(3,4))=6/10; cos((0,1),(3,4))=4/5
      (0, 1, 0.0), (0, 2, 0.6), (1, 2, 0.8)))
  }

  test("x101: uniform-2 entropy 1, constant 0, uniform-4 entropy 2; counts exact") {
    val dir = tmpDir("x101").toString
    Seq(
      (1L, Some("a b"), "en", "sA", 3L), (2L, Some("a b"), "en", "sA", 3L),
      (3L, Some("x x x x"), "en", "sB", 7L),
      (4L, Some("u v w y"), "en", "sC", 7L),
      (5L, None, "en", "sD", 0L)  // null text: source drops entirely
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x101TokenEntropy(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      ("sA", 4L, 2L, 1.0),   // p=1/2,1/2 → H=1
      ("sB", 4L, 1L, 0.0),   // single token → H=0
      ("sC", 4L, 4L, 2.0)))  // p=1/4 ×4 → H=2
  }

  test("x87: add-one bigram probabilities on a hand-computed corpus") {
    val dir = tmpDir("x87").toString
    docsDf(dir, Seq(1L -> "a b a b", 2L -> "a b c", 3L -> "x"))
    // corpus: c(a,b)=3 c(b,a)=1 c(b,c)=1; histories c(a·)=3 c(b·)=2; V=4
    // P(a,b)=(3+1)/(3+4)=4/7  P(b,a)=(1+1)/(2+4)=1/3  P(b,c)=2/6=1/3
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val pab = r6(4.0 / 7); val pba = r6(1.0 / 3); val pbc = r6(1.0 / 3)
    val out = LlmQueries.x87BigramLm(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(
      (1L, 3L, r6((BigDecimal(pab) * 2 + BigDecimal(pba)).toDouble / 3)),
      (2L, 2L, r6((BigDecimal(pab) + BigDecimal(pbc)).toDouble / 2))),
      s"got ${out.toSeq}; single-token doc 3 must be absent")
  }

  test("x102: session boundaries, window edges inclusive, per-window user counts") {
    val dir = tmpDir("x102").toString
    def ns(sec: Long) = sec * 1000000000L
    Seq( // user 1: [0,100s] and [4000s,4000s] (gap 3900s > 1800s);
         // user 2: [50s,310s] (260s gap, one session); user 3: [320s,320s]
      (1L, 1L, ns(0)), (2L, 1L, ns(100)), (3L, 1L, ns(4000)),
      (4L, 2L, ns(50)), (5L, 2L, ns(310)), (6L, 3L, ns(320))
    ).toDF("event_id", "user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x102IntervalOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // buckets (5 min): b0 {e1,e2,e4}, b1 {e5,e6}, b13 {e3} — all three are
    // the top-3. b0 [0,300s) overlaps sessions [0,100s] and [50s,310s];
    // b1 [300s,600s) catches [50s,310s] via its inclusive right edge plus
    // [320s,320s]; b13 [3900s,4200s) catches only [4000s,4000s].
    assert(out == Seq(
      (0L, 3L, 2L, 2L),
      (300000000L, 2L, 2L, 2L),
      (3900000000L, 1L, 1L, 1L)))
  }

  test("x104: split is the md5-of-component hash, so whole components move together") {
    val sf = "/root/testdata/sf0.001"
    val comp = LlmQueries.x47DedupComponents(spark, sf)
      .select("doc_id", "component")
      .as[(Long, Long)].collect().toMap
    val out = LlmQueries.x104SplitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out.map(_._1).toSet == comp.keySet, "one split row per document")
    val md = java.security.MessageDigest.getInstance("MD5")
    def expectedSplit(component: Long): String = {
      val hex = md.digest(s"split|$component".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 10 match {
        case h if h <= 7 => "train"
        case 8           => "val"
        case _           => "test"
      }
    }
    out.foreach { case (docId, component, split) =>
      assert(component == comp(docId))
      assert(split == expectedSplit(component),
        s"doc $docId component $component: split $split != independent md5")
    }
    // docs sharing a component never straddle splits (the leakage guarantee)
    assert(out.groupBy(_._2).forall(_._2.map(_._3).distinct.size == 1))
  }

  test("x105: cross-bucket true neighbors are the recall misses, ranks exact") {
    val dir = tmpDir("x105").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    Seq( // query bucket is 15 (all four lead signs positive)
      (0L, 0, v(1, 1, 1, 1)),    // the query itself: cosine 1, bucket 15
      (1L, 0, v(2, 2, 2, 2)),    // scaled copy: cosine 1, bucket 15
      (2L, 0, v(1, 1, 1, 2)),    // bucket 15, cosine 5/(2*sqrt 7)
      (3L, 0, v(1, 1, 1, -0.5)), // bucket 14: TRUE top-5, invisible to ANN
      (4L, 0, v(1, 1, 0, 0)),    // bucket 12: TRUE top-5, invisible to ANN
      (5L, 0, v(0, 0, 0, -1)),   // far: below the top-5 cut
      (6L, 0, v(1, 0, 0, 0))     // cosine 0.5: below the top-5 cut
    ).toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmQueries.x105RecallAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out == Seq(
      (1L, 0L, 1.0, 1),
      (2L, 1L, 1.0, 1),
      (3L, 2L, r6(5.0 / (2 * math.sqrt(7))), 1),
      (4L, 4L, r6(2.0 / (2 * math.sqrt(2))), 0),
      (5L, 3L, r6(2.5 / (2 * math.sqrt(3.25))), 0)))
  }

  test("x128: unpivot KEEPS null measures (the oracle's UNION ALL semantics, not SQL UNPIVOT's)") {
    val dir = tmpDir("x128").toString
    Seq(
      (1L, 1, Some(5.0), Some(100.0), Some(0.1), Some(0.02)),
      (2L, 1, None, Some(200.0), None, Some(0.04)))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = ExtendedQueries.x128Unpivot(spark, dir).collect()
    assert(out.length == 8, "2 rows x 4 measures — null values must NOT be dropped")
    val nulls = out.filter(_.isNullAt(3)).map(r => (r.getLong(0), r.getString(2))).toSet
    assert(nulls == Set((2L, "l_quantity"), (2L, "l_discount")))
  }

  test("x123: bloom-prefiltered result equals the plain exact intersection") {
    val dir = tmpDir("x123").toString
    // doc 10 (bench: %10==0) shares its full 6-token text with doc 11
    // (corpus) → 2 contaminated 5-grams; doc 12 shares no 5-gram; doc 13
    // too short for grams
    Seq(
      (10L, "alpha beta gamma delta epsilon zeta", "en", "src0", 35L),
      (11L, "alpha beta gamma delta epsilon zeta eta", "en", "src1", 39L),
      (12L, "one two three four five six", "en", "src1", 27L),
      (13L, "tiny text", "en", "src1", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x123BloomContamination(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    // doc 11: 3 grams total, grams at positions 1..2 match bench (the
    // exact-join ground truth — the bloom gate must be invisible here)
    assert(out == Seq((11L, 3L, 2L, 2L, math.floor(2.0 / 3 * 1e6 + 0.5) / 1e6)))
  }

  test("x124: a target-composed doc outscores an anti-target doc; bucket math matches by hand") {
    val dir = tmpDir("x124").toString
    // target (src0) speaks only "a b"; doc 2 repeats the target bigram,
    // doc 3 is pure non-target vocabulary
    Seq(
      (0L, "a b a b a b", "en", "src0", 11L),
      (2L, "a b a b", "en", "src1", 7L),
      (3L, "x y x y", "en", "src1", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val scores = LlmQueries.x124DsirWeights(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(scores(2L) > scores(3L),
      s"target-like doc must outscore anti-target doc: $scores")
    // doc 0 (pure target) scores at least as high as every other doc
    assert(scores(0L) >= scores.values.max - 1e-9)
  }

  test("x131: longest shared span exact; 5-token overlap excluded; 8 is inclusive") {
    val dir = tmpDir("x131").toString
    val s = (1 to 8).map(i => s"s$i")    // 8-token span
    val t = (1 to 10).map(i => s"t$i")   // 10-token span
    def doc(toks: Seq[String]) = toks.mkString(" ")
    Seq(
      // doc1 carries both spans; doc2 carries them in the OPPOSITE order,
      // so the two shared spans land on different (pa - pb) diagonals
      (1L, doc(s ++ Seq("f1", "f2", "f3", "f4", "f5") ++ t), "en", "src0", 0L),
      (2L, doc(t ++ Seq("g1", "g2", "g3", "g4", "g5") ++ s), "en", "src0", 0L),
      // doc3 shares only a 5-token span (one matched gram -> span 5 < 8)
      (3L, doc(s.take(5) ++ Seq("h1", "h2", "h3", "h4", "h5")), "en", "src0", 0L),
      // doc4 too short for any 5-gram
      (4L, "u1 u2 u3", "en", "src0", 0L),
      // doc5 shares exactly the 8-token span with 1 and 2 — boundary kept
      (5L, doc(s ++ Seq("k1", "k2", "k3", "k4", "k5")), "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x131DupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // (1,2): spans of 8 and 10 on two diagonals -> max 10, 4+6 matched grams
    // (1,5)/(2,5): exactly the 8-token span -> 4 consecutive matched grams
    assert(out == Seq(
      (1L, 2L, 10L, 10L),
      (1L, 5L, 8L, 4L),
      (2L, 5L, 8L, 4L)))
  }

  test("x132: add-one bigram cross-entropy matches by hand; no-bigram doc absent") {
    val dir = tmpDir("x132").toString
    Seq(
      (1L, "a b a b", "en", "src0", 7L), // bigrams (a,b)x2 (b,a)x1
      (2L, "a b c", "en", "src0", 5L),   // (a,b) (b,c)
      (3L, "z", "en", "src0", 1L))       // no bigram -> absent
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x132PerplexityGate(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    // model: c12 (a,b)=3 (b,a)=1 (b,c)=1; c1 a=3 b=2; V={a,b,c}=3
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val tAb = r6(-(math.log(4.0 / 6) / math.log(2)))  // p(b|a)=(3+1)/(3+3)
    val tBa = r6(-(math.log(2.0 / 5) / math.log(2)))  // p(a|b)=(1+1)/(2+3)
    val tBc = tBa                                     // p(c|b)=(1+1)/(2+3)
    def fold(terms: Seq[(Long, Double)]): Double = {
      val sum = terms.map { case (n, t) =>
        BigDecimal(n) * BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      r6(sum.toDouble / terms.map(_._1).sum)
    }
    assert(!out.contains(3L))
    assert(out(1L) == ((3L, fold(Seq((2L, tAb), (1L, tBa))), "head")))
    assert(out(2L) == ((2L, fold(Seq((1L, tAb), (1L, tBc))), "head")))
  }

  test("x133: E-S priorities match an independent JVM md5/ln; zero/null weights drop") {
    val dir = tmpDir("x133").toString
    val docs = Seq(
      (1L, "t", "en", "srcA", 10L), (2L, "t", "en", "srcA", 200L),
      (3L, "t", "en", "srcA", 30L), (4L, "t", "en", "srcA", 400L),
      (5L, "t", "en", "srcA", 55L), (6L, "t", "en", "srcA", 600L),
      (7L, "t", "en", "srcA", 7L),
      (8L, "t", "en", "srcB", 80L), (9L, "t", "en", "srcB", 9L),
      (10L, "t", "en", "srcB", 0L),                    // weight 0 -> dropped
      (11L, "t", "en", "srcB", -1L))                   // negative -> dropped
    (docs.map { case (id, t, l, s, n) => (id, t, l, s, Option(n)) } :+
      ((12L, "t", "en", "srcB", Option.empty[Long]))) // null weight -> dropped
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent reimplementation: JVM MessageDigest md5, first 12 hex
    // chars, u = (h+1)/(2^48+1), priority = round6(ln(u)/w)
    def priority(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val u = (java.lang.Long.parseLong(hex, 16) + 1) / 281474976710657.0
      math.floor(math.log(u) / w * 1e6 + 0.5) / 1e6
    }
    val expect = docs.filter(_._5 > 0)
      .map { case (id, _, _, s, w) => (s, id, w, priority(id, w)) }
      .groupBy(_._1).toSeq.flatMap { case (s, rows) =>
        rows.sortBy { case (_, id, _, p) => (-p, id) }.take(5).zipWithIndex
          .map { case ((_, id, w, p), i) => (s, i + 1L, id, w, p) }
      }.sortBy(r => (r._1, r._2))
    val got = LlmQueries.x133ReservoirSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expect)
  }

  test("x136: threshold boundary exact — 6 kept, 5 dropped; count desc tie by shingle") {
    val dir = tmpDir("x136").toString
    // "a b c" appears 6 times (boundary: kept), "x y z" 5 times (dropped),
    // "p q r" 7 times (kept, ranks first)
    val docs =
      (1 to 6).map(i => (i.toLong, "a b c", "en", "s", 5L)) ++
      (11 to 15).map(i => (i.toLong, "x y z", "en", "s", 5L)) ++
      (21 to 27).map(i => (i.toLong, "p q r", "en", "s", 5L)) :+
      ((31L, "q r", "en", "s", 3L)) // < 3 tokens: no shingle
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x136CmsHeavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("p q r", 7L), ("a b c", 6L)))
  }

  test("x138: 3-batch replayed DQ profile equals the one-shot r2 profile exactly") {
    val sf = "/root/testdata/sf0.001"
    val replayed = LlmQueries.x138DqReplay(spark, sf).collect().toSeq
    val oneShot = ReferenceQueries.r2DqProfile(spark, sf).collect().toSeq
    assert(replayed == oneShot)
  }

  test("x140: both directions scored; metric invariants hold on the fixture") {
    val out = LlmQueries.x140RetrievalEval(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._1).toSeq == Seq("lex", "vec"))
    out.foreach { case (dir, nRel, nHits, mrr, ndcg) =>
      assert(nRel == 10, s"$dir: the other retriever's top-10 is the relevance set")
      assert(nHits >= 0 && nHits <= 10)
      assert(mrr >= 0.0 && mrr <= 1.0, s"$dir mrr=$mrr")
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9, s"$dir ndcg=$ndcg")
      // nDCG can't exceed what a perfect prefix of the same hit count gives
      if (nHits == 0) assert(ndcg == 0.0 && mrr == 0.0)
      else assert(ndcg > 0.0 && mrr > 0.0)
    }
  }

  test("x141: a contained-start interval EXTENDS its island — the rule sessionization lacks") {
    val dir = tmpDir("x141").toString
    def d(day: Int) = Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    // transit = linenumber % 7 + 1
    Seq(
      // supp 1: [0,2] then [1,4] (starts INSIDE, extends to 4 -> same
      // island), then [5,7] (5 > 4 -> new island)
      (100L, 1L, 1, d(0)), // [0, 2]
      (101L, 1L, 3, d(1)), // [1, 5]? no: 3 % 7 + 1 = 4 -> [1, 5]
      (102L, 1L, 1, d(6)), // [6, 8]
      // supp 2: one interval [10, 13]
      (103L, 2L, 2, d(10)))
      .toDF("l_orderkey", "l_suppkey", "l_linenumber", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = ExtendedQueries.x141IntervalMerge(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // supp 1: islands [0,5] (intervals [0,2]+[1,5]) and [6,8] ->
    // covered 5+2=7, max 5; supp 2: [10,13] -> covered 3
    assert(out == Seq(
      (1L, 3L, 2L, 7L, 5L),
      (2L, 1L, 1L, 3L, 3L)))
  }

  test("x143: closed-form EWMA equals the recursive fold by hand; singleton passes through") {
    val dir = tmpDir("x143").toString
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    Seq(
      (1L, ts(0), 1L, "click", 10.0, "{}"),
      (2L, ts(1), 1L, "click", 20.0, "{}"),
      (3L, ts(2), 1L, "click", 40.0, "{}"),
      (4L, ts(0), 2L, "click", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x143Ewma(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // recursive: S1=10, S2=.75*10+.25*20=12.5, S3=.75*12.5+.25*40=19.375;
    // every closed-form term is exact at 6 dp
    assert(out == Map(1L -> ((3L, 19.375)), 2L -> ((1L, 7.0))))
  }

  test("x144: a perfect 2-per-day line recovers slope 2, intercept 1 exactly") {
    val dir = tmpDir("x144").toString
    def d(day: Int) = Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    Seq(
      (1L, d(0), 1L, "lin", 1.0, "{}"),
      (2L, d(1), 1L, "lin", 3.0, "{}"),
      (3L, d(2), 1L, "lin", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtendedQueries.x144Regression(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(out == Seq(("lin", 3L, 2.0, 1.0)))
  }

  test("x145: blocks close at 512; oversize doc forms a singleton over-budget block") {
    val dir = tmpDir("x145").toString
    def toks(n: Int) = Seq.fill(n)("w").mkString(" ")
    Seq(
      (1L, toks(30), "en", "s1", 0L),   // 30+400 = 430 fits
      (2L, toks(400), "en", "s1", 0L),
      (3L, toks(90), "en", "s1", 0L),   // 430+90 > 512 -> new block
      (4L, toks(600), "en", "s1", 0L),  // oversize -> singleton block
      (5L, toks(512), "en", "s2", 0L),  // exactly budget: kept whole
      (6L, toks(1), "en", "s2", 0L))    // 512+1 > 512 -> next block
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x145PackBlocks(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      ("s1", 1L, 2L, 430L), ("s1", 2L, 1L, 90L), ("s1", 3L, 1L, 600L),
      ("s2", 1L, 1L, 512L), ("s2", 2L, 1L, 1L)))
  }

  test("x147: in-vocab doc decodes byte-identical; OOV doc flags false with exact unk count") {
    val dir = tmpDir("x147").toString
    // vocab = top-25 by (count desc, token asc): a(2), b(2), then 23 of
    // the 31 count-1 tokens alphabetically -> c, z01..z22; z23..z30 OOV
    val rare = (1 to 30).map(i => f"z$i%02d").mkString(" ")
    Seq(
      (1L, "a b a b c", "en", "s", 9L),
      (2L, rare, "en", "s", rare.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.x147Detokenize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(out == Seq((1L, 5L, 0L, true), (2L, 30L, 8L, false)))
  }

  test("x150: positives and hard negatives match an independent JVM ranking") {
    val dir = tmpDir("x150").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val vecs: Seq[(Long, Int, Array[Float])] = Seq(
      (0L, 1, v(1, 1, 1, 1)),
      (1L, 1, v(1, 1, 1, 0.9)),    // near-dup of 0, same label
      (2L, 2, v(1, 1, 0.8, 0.8)),  // closest other-label to 0
      (3L, 2, v(-1, -1, -1, -1)),  // far
      (11L, 1, v(0.9, 1, 1, 1)))   // another label-1
    vecs.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // independent reimplementation with the exact float discipline
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1e6 + 0.5) / 1e6
    }
    val expect = (for {
      (qid, ql, qe) <- vecs if qid < 10
      kind <- Seq("negative", "positive")
    } yield {
      val cands = vecs.filter { case (id, l, _) =>
        id != qid && (if (kind == "positive") l == ql else l != ql) }
      val best = cands.map { case (id, _, e) => (id, cos(qe, e)) }
        .minBy { case (id, c) => (-c, id) }
      (qid, kind, cands.size.toLong, best._1, best._2)
    }).sortBy(r => (r._1, r._2))
    val got = LlmQueries.x150HardNegatives(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expect)
  }

  test("x148: planted perfect correlations recover exactly +-1 at 6dp") {
    val dir = tmpDir("x148").toString
    // price = 2*quantity (corr +1), discount = -quantity/100 (corr -1)
    (1 to 20).map(i => (i.toLong, 1, i.toDouble, 2.0 * i, -i / 100.0, 0.0, "N", "O",
        Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 1L))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = ExtendedQueries.x148Correlation(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(
      ("extendedprice_discount", 20L, -1.0),
      ("quantity_discount", 20L, -1.0),
      ("quantity_extendedprice", 20L, 1.0)))
  }

  test("x155: quartile phases partition the scored corpus; boundaries are monotone") {
    val out = LlmQueries.x155Curriculum(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val scored = LlmQueries.x16QualityScore(spark, "/root/testdata/sf0.001").count()
    assert(out.map(_._2).sum == scored, "every scored doc lands in exactly one phase")
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3, s"phase ${a._1} max must not exceed phase ${b._1} min")
    case _ => ()
    }
  }

  test("x156: every epoch shards the whole corpus; epochs decorrelate") {
    val sf = "/root/testdata/sf0.001"
    val out = LlmQueries.x156EpochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
    val docs = graft.core.Io.table(spark, sf, "documents").count()
    (1L to 3L).foreach { e =>
      val mine = out.filter(_._1 == e)
      assert(mine.map(_._3).sum == docs, s"epoch $e must cover all $docs docs")
      assert(mine.map(_._2).toSeq.sorted == (0L to 7L), s"epoch $e must hit all 8 shards")
    }
    // the salted hash makes shard contents differ between epochs: the
    // per-shard min-hash checksums cannot all coincide
    assert(out.filter(_._1 == 1L).map(_._4).toSeq !=
      out.filter(_._1 == 2L).map(_._4).toSeq)
  }

  test("x157: acceptance weights by quality — accepted mean exceeds corpus mean") {
    val sf = "/root/testdata/sf0.001"
    val out = LlmQueries.x157RejectionSample(spark, sf).collect()
    val corpusMean = LlmQueries.x16QualityScore(spark, sf)
      .agg(org.apache.spark.sql.functions.avg("quality_score")).head().getDouble(0)
    out.foreach { r =>
      val (n, acc) = (r.getLong(1), r.getLong(2))
      assert(acc >= 0 && acc <= n)
      assert(math.abs(r.getDouble(3) - acc.toDouble / n) < 1e-6)
    }
    val weighted = out.map(r => r.getDouble(4) * r.getLong(2)).sum /
      out.map(_.getLong(2)).sum
    assert(weighted > corpusMean,
      s"rejection sampling must lift mean quality: $weighted vs $corpusMean")
  }

  test("x158: a corrupted load shows up as orphans with exact counts") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val dir = s"${System.getProperty("java.io.tmpdir")}/x158_corrupt_${System.nanoTime()}"
    for (t <- Seq("customer", "lineitem", "part", "supplier", "nation", "region"))
      graft.core.Io.table(spark, sf, t).write.parquet(s"$dir/$t.parquet")
    // the corruption: half the orders vanish (a failed partition load)
    graft.core.Io.table(spark, sf, "orders")
      .filter(col("o_orderkey") % 2 === 0)
      .write.parquet(s"$dir/orders.parquet")
    try {
      val out = ExtendedQueries.x158FkAudit(spark, dir).collect()
        .map(r => r.getString(0) -> r).toMap
      val li = out("lineitem->orders")
      val expectedOrphans = graft.core.Io.table(spark, sf, "lineitem")
        .join(graft.core.Io.table(spark, sf, "orders")
          .filter(col("o_orderkey") % 2 === 0),
          col("l_orderkey") === col("o_orderkey"), "left_anti").count()
      assert(li.getLong(3) == expectedOrphans && expectedOrphans > 0)
      assert(li.getDouble(4) < 1.0)
      // unrelated relationships stay fully covered
      assert(out("lineitem->part").getDouble(4) == 1.0)
      assert(out("orders->customer").getDouble(4) == 1.0)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("x159: strategy economics — pad_max wastes most, packing's lower bound least") {
    val out = LlmQueries.x159PaddingAudit(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> r).toMap
    val (b, p, m) = (out("bucketed"), out("packed_lb"), out("pad_max"))
    Seq(b, p, m).foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "used can never exceed slots")
      assert(r.getLong(1) > 0)
    }
    assert(p.getDouble(4) < b.getDouble(4) && b.getDouble(4) < m.getDouble(4),
      "waste must strictly improve pad_max -> bucketed -> packed_lb on this corpus")
    assert(m.getLong(2) == m.getLong(1) * 256, "pad_max slots = n_docs * L")
    assert(p.getLong(2) % 256 == 0 && p.getLong(2) >= p.getLong(3),
      "packed_lb slots are whole blocks covering used")
  }

  test("x154: watermark replay flush equals the plain batch windowed count") {
    val sf = "/root/testdata/sf0.001"
    val replayed = LlmQueries.x154WindowReplay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = graft.core.Io.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("ts").isNotNull)
      .selectExpr("unix_micros(ts) div 60000000 * 60000 as w")
      .groupBy("w").count().orderBy("w").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(replayed.nonEmpty)
    assert(replayed == batch)
  }

  test("x161: declared throttle equals an independent sequential JVM fold") {
    val sf = "/root/testdata/sf0.001"
    val got = ExtendedQueries.x161ThrottleDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val raw = graft.core.Io.eventsRaw(spark, sf)
      .filter("ts is not null and user_id is not null")
      .selectExpr("user_id", "ts div 1000 as t", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = raw.groupBy(_._1).toSeq.map { case (u, evs) =>
      var anchor = Long.MinValue; var first = true
      val kept = evs.sortBy(e => (e._2, e._3)).collect {
        case (_, t, _) if first || t > anchor + 3_600_000_000L =>
          anchor = t; first = false; t
      }
      (u, kept.size.toLong, kept.min, kept.max, kept.sum)
    }.sortBy(_._1)
    assert(got.nonEmpty && got == want)
    // the throttle must actually suppress something, or the period is a no-op
    assert(got.map(_._2).sum < raw.length)
  }

  test("x164: tricky-but-valid JSON lines never quarantine; the mangle rule exactly does") {
    // texts with quotes, newlines, backslashes, unicode — the payloads that
    // break naive line-oriented JSON handling; all must parse back clean
    val dir = tmpDir("x164t").toString
    val docs = Seq(
      (5L, "he said \"hi\"\nand left", "en", "web", 21L),
      (1L, "back\\slash and \t tab", "en", "web", 20L),
      (2L, "café — 中文", "fr", "web", 8L),
      (3L, null.asInstanceOf[String], "en", "web", 0L),
      (10L, "will be mangled", "en", "web", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ExtendedQueries.x164CorruptQuarantine(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    withClue(s"buckets: $out") {
      assert(out("__quarantine__") == 1L) // exactly the doc_id%10==0 row
      assert(out("en") == 3L && out("fr") == 1L)
    }
  }

  test("x165: every event lands in exactly size/hop = 2 hopping windows") {
    val sf = "/root/testdata/sf0.001"
    val nEvents = graft.core.Io.events(spark, sf)
      .filter("ts is not null").count()
    val windowed = ExtendedQueries.x165HoppingWindow(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_events")).head().getLong(0)
    assert(nEvents > 0 && windowed == 2 * nEvents)
  }

  test("x166: native session boundary is INCLUSIVE — gap == duration merges, gap > splits") {
    import org.apache.spark.sql.functions._
    val gapUs = 1_800_000_000L
    def sessions(ts: Seq[Long]): Long =
      ts.map(t => Tuple1(new java.sql.Timestamp(t / 1000)))
        .toDF("raw").select(to_timestamp(col("raw")).as("ts"))
        .groupBy(session_window(col("ts"), "30 minutes")).count().count()
    assert(sessions(Seq(0L, gapUs)) == 1L, "gap == duration must merge (inclusive end)")
    assert(sessions(Seq(0L, gapUs + 1000)) == 2L, "gap > duration must split")
  }

  test("x175: a planted always-together pair outlifts a frequent independent pair") {
    val dir = tmpDir("x175t").toString
    // 'alpha beta' only ever adjacent (lift = N/c since c_uv=c_u=c_v);
    // 'the the' frequent but independent everywhere
    val docs = (1 to 6).map(i => (i.toLong, "alpha beta", "en", "web", 10L)) ++
      (7 to 18).map(i => (i.toLong, s"the w$i the v$i the u$i", "en", "web", 20L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = LlmQueries.x175Collocations(spark, dir).collect()
    assert(top.head.getString(0) == "alpha beta",
      s"top collocation: ${top.head.getString(0)}")
  }

  test("x177: BM25 length normalization — same tf, shorter doc scores higher") {
    val dir = tmpDir("x177t").toString
    // q1..q3 have df=2 (the top-3 query terms); z* are df-1 fillers that
    // can never enter the query, so doc 2 differs ONLY in length
    Seq((1L, "q1 q2 q3", "en", "web", 8L),
      (2L, "q1 q2 q3 z1 z2 z3 z4 z5", "en", "web", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val s = LlmQueries.x177Bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(s(1L) > s(2L), s"short=${s.get(1L)} long=${s.get(2L)}")
  }

  test("x178: a doc violating only the length rule lands in fail_len alone") {
    val dir = tmpDir("x178t").toString
    // both docs: 2 stopwords, distinct 5-char words, mean_wl in range,
    // no duplicate tokens, < 500 chars — the short one fails ONLY f_len
    def text(n: Int) = (Seq("the", "a") ++ (0 until n - 2).map(i => f"wd$i%03d"))
      .mkString(" ")
    val docs = Seq((1L, text(30), "en", "web"), (2L, text(10), "en", "web"))
      .map { case (id, t, l, s) => (id, t, l, s, t.replace(" ", "").length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = LlmQueries.x178FilterBank(spark, dir).collect().head
    assert(r.getAs[Long]("n_docs") == 2 && r.getAs[Long]("fail_len") == 1
      && r.getAs[Long]("fail_wordlen") == 0 && r.getAs[Long]("fail_stop") == 0
      && r.getAs[Long]("fail_dup") == 0 && r.getAs[Long]("fail_chars") == 0
      && r.getAs[Long]("n_pass") == 1, r.toString)
  }

  test("x179: identity mutation collides in bin 9, k=2 decimation does not collide") {
    val dir = tmpDir("x179t").toString
    // doc_id 10 → k=1000000 (identity, Jaccard 1.0); doc_id 0 → k=2 (every
    // 2nd token dropped: no 3 consecutive survivors, shingle Jaccard 0)
    def words(tag: String) = (0 until 40).map(i => s"$tag$i").mkString(" ")
    Seq((0L, words("lo"), "en", "web", 200L), (10L, words("hi"), "en", "web", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = LlmQueries.x179LshScurve(spark, dir).collect()
      .map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_collide"))).toMap
    assert(rows(9L) == (1L, 1L), s"bin9: $rows")
    assert(rows(0L) == (1L, 0L), s"bin0: $rows")
  }

  test("x180: sample-estimated boundaries bucket the full column, all rows kept") {
    val dir = tmpDir("x180t").toString
    // sample = orderkey%10==0 → values 10,20,…,100; quantile_cont gives
    // boundaries 19,28,…,91, so bucket 0 holds 1..19 and the rest 9 each
    (1 to 100).map(i => (i.toLong, i.toDouble))
      .toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = ExtendedQueries.x180RangeBalance(spark, dir).collect()
    assert(rows.length == 10, s"buckets: ${rows.length}")
    assert(rows.map(_.getAs[Long]("n_rows")).sum == 100L, rows.mkString("; "))
    val byBucket = rows.map(r =>
      r.getAs[Long]("bucket") -> r.getAs[Long]("n_rows")).toMap
    assert(byBucket(0L) == 19L && byBucket(5L) == 9L, byBucket.toString)
  }

  test("x181: bigrams count as new only in their first doc_id decile") {
    val dir = tmpDir("x181t").toString
    // ids 0..9 → bucket == doc_id; doc 5 repeats 'a b' (seen in bucket 0)
    // and introduces 'b c' / 'c d'
    val filler = (0 until 8).map(i => (i.toLong, s"f$i g$i", "en", "web", 5L))
      .filter(t => t._1 != 0L && t._1 != 5L)
    val docs = Seq((0L, "a b a b", "en", "web", 7L),
      (5L, "a b c d", "en", "web", 7L)) ++ filler ++
      Seq((8L, "f8 g8", "en", "web", 5L), (9L, "f9 g9", "en", "web", 5L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = LlmQueries.x181NgramNovelty(spark, dir).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n_new")).toMap
    // bucket 0: 'a b' + 'b a' = 2 new; bucket 5: 'b c' + 'c d' ('a b' is old)
    assert(m(0L) == 2L, s"bucket0: $m")
    assert(m(5L) == 2L, s"bucket5: $m")
  }

  test("x183: bisection conserves tokens and halts at ≤32-token chunks") {
    val dir = tmpDir("x183t").toString
    // doc 1: 100 tokens → [1,50]+[51,100] → four 25-token chunks at depth 2
    // doc 2: 20 tokens → already a chunk at depth 0
    def text(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    Seq((1L, text(100), "en", "web", 100L), (2L, text(20), "en", "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = LlmQueries.x183RecursiveChunks(spark, dir).collect()
      .map(r => r.getAs[Long]("depth") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("max_chunk"))).toMap
    assert(rows == Map(0L -> (1L, 20L, 20L), 2L -> (4L, 100L, 25L)), rows.toString)
  }

  test("x184: only urgent orders' line items aggregate; bloom injection self-asserted") {
    val dir = tmpDir("x184t").toString
    Seq((1L, "1-URGENT"), (2L, "3-MEDIUM"))
      .toDF("o_orderkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "R", "F", 100.0, 0.1), (1L, "N", "O", 200.0, 0.0),
      (2L, "R", "F", 999.0, 0.5))
      .toDF("l_orderkey", "l_returnflag", "l_linestatus",
        "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // the x184 body asserts might_contain is in the executed plan — a pass
    // here proves injection fired at two-row scale too (thresholds scoped)
    val rows = ExtendedQueries.x184BloomJoin(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(rows == Map(("N", "O") -> (200.0, 1L), ("R", "F") -> (90.0, 1L)),
      rows.toString)
  }

  test("x186: the forecast total equals the materialized self-join's row count") {
    val dir = tmpDir("x186t").toString
    // users: 10 → 3 events, 20 → 2, 30 → 1  ⇒  Σn² = 9 + 4 + 1 = 14
    val ev = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L), (6L, 30L))
    ev.map { case (eid, u) =>
      (eid, new java.sql.Timestamp(1700000000000L + eid * 1000), u, "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = ExtendedQueries.x186JoinForecast(spark, dir).collect()
    assert(rows.forall(_.getAs[Long]("total_join_rows") == 14L), rows.mkString("; "))
    assert(rows.forall(_.getAs[Long]("n_keys") == 3L))
    val actual = {
      val e = spark.read.parquet(s"$dir/events.parquet").select("user_id")
      e.as("a").join(e.as("b"), "user_id").count()
    }
    assert(actual == 14L, s"actual=$actual")
    val byUser = rows.map(r => r.getAs[Long]("user_id") ->
      r.getAs[Long]("contrib")).toMap
    assert(byUser == Map(10L -> 9L, 20L -> 4L, 30L -> 1L), byUser.toString)
  }

  test("x187: the SQL-UDF gate counts exactly the docs passing both rules") {
    val dir = tmpDir("x187t").toString
    // doc 1: 2 stopwords + 20 tokens (passes); doc 2: 2 stopwords but only
    // 10 tokens (fails the length rule alone)
    def text(n: Int) = (Seq("the", "a") ++ (0 until n - 2).map(i => s"w$i"))
      .mkString(" ")
    Seq((1L, text(20), "en", "web", 50L), (2L, text(10), "en", "web", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = LlmQueries.x187SqlUdf(spark, dir).collect().head
    assert(r.getAs[Long]("n_docs") == 2L && r.getAs[Long]("n_quality") == 1L)
    // density = (2+2)/(20+10) = 0.1333333… → round6 0.133333
    assert(r.getAs[Double]("stop_density") == 0.133333, r.toString)
  }

  test("x188: TVF chunk geometry — full strides plus the short tail, tokens conserved") {
    val dir = tmpDir("x188t").toString
    def text(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // 100 tokens → 40+40+20 (tail 20, NOT short); 87 → 40+40+7 (short tail)
    Seq((1L, text(100), "en", "web", 100L), (2L, text(87), "en", "web", 87L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = LlmQueries.x188SqlTvf(spark, dir).collect().head
    assert(r.getAs[Long]("n_chunks") == 6L && r.getAs[Long]("sum_tokens") == 187L
      && r.getAs[Long]("n_short_tail") == 1L, r.toString)
  }

  test("x189: the checkpoint's state store holds exactly the grouped aggregate") {
    val dir = tmpDir("x189t").toString
    val ev = Seq((1L, 10L, 1.25), (2L, 10L, 2.5), (3L, 20L, 0.125))
    ev.map { case (eid, u, v) =>
      (eid, new java.sql.Timestamp(1700000000000L + eid * 1000), u, "click", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = ExtendedQueries.x189StateInspect(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("sum_micro"))).toMap
    assert(rows == Map(10L -> (2L, 3750000L), 20L -> (1L, 125000L)), rows.toString)
  }

  test("x190: opt-out rows are physically gone; a fully-opted-out partition vanishes to 0") {
    val dir = tmpDir("x190t").toString
    // partition (en, tiny): BOTH docs opt out (ids 997, 1994) — dynamic
    // overwrite alone can't empty it, the explicit dir delete must
    val docs = Seq(
      (997L, "gone one", "en", "tiny", 8L), (1994L, "gone two", "en", "tiny", 8L),
      (1L, "keep a", "en", "web", 6L), (2991L, "drop me", "en", "web", 7L),
      (5L, "safe", "fr", "web", 4L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = ExtendedQueries.x190TakedownDelete(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("deleted"),
          r.getAs[Long]("rewritten"))).toMap
    assert(rows == Map(
      ("en", "tiny") -> (0L, 2L, 1L),
      ("en", "web")  -> (1L, 1L, 1L),
      ("fr", "web")  -> (1L, 0L, 0L)), rows.toString)
  }

  test("x182: dynamic overwrite replaces only the en partition, others intact") {
    val dir = tmpDir("x182t").toString
    Seq((1L, "aa bb", "en", "web", 5L), (2L, "cc dd", "fr", "web", 5L),
      (3L, "ee ff", "fr", "news", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = ExtendedQueries.x182DynamicOverwrite(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source"))
        -> r.getAs[Long]("n_docs")).toMap
    // en rewritten (upper-cased source, not duplicated), fr untouched
    assert(rows == Map(("en", "WEB") -> 1L, ("fr", "web") -> 1L,
      ("fr", "news") -> 1L), rows.toString)
  }

  test("x170: a hub token outranks a frequency-matched token with one neighbor") {
    // 'hub' touches 10 distinct neighbors; 'rep' repeats just as often but
    // only ever neighbors 'pal' — frequency alone cannot separate them,
    // recursive neighborhood importance must
    val dir = tmpDir("x170t").toString
    val hubDoc = (1 to 10).map(i => s"hub n$i").mkString(" ")
    val repDoc = Seq.fill(10)("rep pal").mkString(" ")
    Seq((1L, hubDoc, "en", "web", hubDoc.length.toLong),
      (2L, repDoc, "en", "web", repDoc.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val scores = LlmQueries.x170TextRank(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(scores("hub") > scores("rep"),
      s"hub=${scores.get("hub")} rep=${scores.get("rep")}")
  }

  test("x167: late rows are exactly the straggler subset below the running watermark") {
    val sf = "/root/testdata/sf0.001"
    val got = ExtendedQueries.x167LateDataAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // independent JVM recompute of the whole rule
    val raw = graft.core.Io.eventsRaw(spark, sf).filter("ts is not null")
      .selectExpr("event_id", "ts div 1000 as t").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lo = raw.map(_._2).min; val span = raw.map(_._2).max - lo + 1
    val (t1, t2) = (lo + span / 3, lo + 2 * span / 3)
    def batch(id: Long, t: Long): Long = {
      val b0 = if (t < t1) 0L else if (t < t2) 1L else 2L
      math.min(b0 + (if (id % 50 == 0) 1 else 0), 2L)
    }
    val byB = raw.groupBy { case (id, t) => batch(id, t) }
    val bmax = byB.view.mapValues(_.map(_._2).max).toMap
    val wm = Map[Long, Option[Long]](0L -> None,
      1L -> Some(bmax(0L) - 1_800_000_000L),
      2L -> Some(math.max(bmax(0L), bmax(1L)) - 1_800_000_000L))
    val want = (0L to 2L).map { b =>
      val rows = byB(b)
      val late = rows.count { case (_, t) => wm(b).exists(t < _) }
      (b, rows.size.toLong, late.toLong, (rows.size - late).toLong)
    }
    assert(got == want)
    // batch 0 can never see late data; the later batches must (the audit
    // is vacuous otherwise), and every late row is a straggler by rule
    assert(got.head._3 == 0 && got.drop(1).map(_._3).sum > 0)
    val lateIds = (0L to 2L).flatMap { b =>
      byB(b).filter { case (_, t) => wm(b).exists(t < _) }.map(_._1)
    }
    assert(lateIds.forall(_ % 50 == 0))
  }

  test("x168: null text, empty text, and quoted newlines survive the CSV cycle distinctly") {
    val dir = tmpDir("x168t").toString
    Seq(
      (1L, null.asInstanceOf[String], "en", "web", 0L),
      (2L, "", "en", "web", 0L),
      (3L, "line one\n\"quoted\" two", "en", "web", 21L),
      (4L, "plain", "fr", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ExtendedQueries.x168CsvRoundtrip(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq // lang, n_docs, sum_text_len
    // null skips the length sum; empty contributes 0 — if CSV collapsed
    // null and empty either way, en's sum or count pattern would shift
    assert(out == Seq(("en", 3L, 21L), ("fr", 1L, 5L)))
  }

  test("x162: incremental merge == recompute; naive avg-of-avgs would NOT") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val got = ExtendedQueries.x162MvMaintain(spark, sf)
    val oneShot = graft.core.Io.eventsRaw(spark, sf)
      .filter("ts is not null and event_type is not null")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        col("event_id"), col("value"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("min_event_id"),
        max("event_id").as("max_event_id"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"),
        when(count(col("value")) > 0, ExtendedQueries.stableRound6(
          sum(col("value").cast("decimal(28,6)")).cast("double")
            / count(col("value")))).as("avg_value"))
      .orderBy("event_type", "day")
    assert(got.collect().toSeq == oneShot.collect().toSeq)
    // the trap the query exists to pin: averaging the two loads' averages
    // (unweighted) diverges from the true avg on at least one group,
    // because the standing and delta sides have unequal counts
    val ev = graft.core.Io.eventsRaw(spark, sf)
      .filter("ts is not null and event_type is not null and value is not null")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        col("event_id"), col("value"))
    def avgs(f: org.apache.spark.sql.Column) = ev.filter(f)
      .groupBy("event_type", "day").agg(avg("value").as("a"))
    val naive = avgs(col("event_id") % 4 =!= 0).withColumnRenamed("a", "a1")
      .join(avgs(col("event_id") % 4 === 0).withColumnRenamed("a", "a2"),
        Seq("event_type", "day"))
      .select(ExtendedQueries.stableRound6((col("a1") + col("a2")) / 2).as("n"),
        col("event_type"), col("day"))
    val truth = ev.groupBy("event_type", "day")
      .agg(ExtendedQueries.stableRound6(avg("value")).as("t"))
    val diverging = naive.join(truth, Seq("event_type", "day"))
      .filter(col("n") =!= col("t")).count()
    assert(diverging > 0, "fixture must exhibit the avg-of-avgs trap")
  }
}
