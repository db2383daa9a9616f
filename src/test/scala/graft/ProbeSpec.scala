package graft

import graft.queries.LlmQueries

/** Pins query volume INVARIANTS (verdict r10 #1) against an independent
  * driver-side brute force on the sf0.001 fixture: each query must emit
  * the volume its algorithm is CONTRACTED to produce.
  *
  *   - x129's candidate pairs are exactly the unique-set prefix matches
  *     (no candidate invented, none lost) and its output is exactly the
  *     Jaccard ≥ 0.8 pairs — recomputed here pair-by-pair in plain Scala;
  *   - the collapse and no-collapse regimes are output-identical (the
  *     adaptive gate picks a cost, never a different answer);
  *   - x13-LSH candidate volume derives from band-bucket sizes (Σ c(c−1)/2,
  *     an aggregate over bucket counts) and sits far under all-pairs;
  *   - x47, x269/x276 and x283 keep their structural shape contracts.
  */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def prefixLen(size: Int): Int =
    size - math.ceil(4.0 / 5.0 * size).toInt + 1

  test("x129: candidates == unique-set prefix matches; output == Jaccard>=0.8 pairs (brute force)") {
    val p = LlmQueries.x129Parts(spark, sf)
    val sets = p.setsU.collect().map { r =>
      (r.getAs[Long]("uid"), r.getAs[Seq[Long]]("rs").toVector,
        r.getAs[Long]("n"))
    }.sortBy(_._1)
    assert(sets.nonEmpty)
    // brute-force candidates: unique-set pairs whose rare-first prefixes
    // share at least one ranked shingle
    val prefixes = sets.map { case (uid, rs, _) =>
      uid -> rs.take(prefixLen(rs.size)).toSet }
    var cand = 0L
    var survivors = Set.empty[(Long, Long)]
    for (i <- prefixes.indices; j <- (i + 1) until prefixes.length) {
      val (ua, pa) = prefixes(i); val (ub, pb) = prefixes(j)
      if (pa.exists(pb)) {
        cand += 1
        val (_, ra, na) = sets(i); val (_, rb, nb) = sets(j)
        val inter = ra.toSet.intersect(rb.toSet).size.toLong
        if (5 * inter >= 4 * (na + nb - inter))
          survivors += ((math.min(ua, ub), math.max(ua, ub)))
      }
    }
    assert(p.cand.count() == cand,
      s"candidate volume must equal brute-force prefix matches ($cand)")
    // the unique-set survivors must be a subset of the candidates by
    // construction; the doc-level output is brute-forced below
    assert(survivors.size <= cand)
    val noC = LlmQueries.x129Parts(spark, sf, Some(false))
    val docSets = noC.setsU.collect().map { r =>
      (r.getAs[Long]("uid"), r.getAs[Seq[Long]]("rs").toVector,
        r.getAs[Long]("n"))
    }.sortBy(_._1)
    val expected = (for {
      i <- docSets.indices.iterator
      j <- ((i + 1) until docSets.length).iterator
      (da, ra, na) = docSets(i)
      (db, rb, nb) = docSets(j)
      inter = ra.toSet.intersect(rb.toSet).size.toLong
      if 5 * inter >= 4 * (na + nb - inter)
    } yield (da, db, inter, na + nb - inter)).toSet
    val got = p.out.collect().map(r => (r.getAs[Long]("da"),
      r.getAs[Long]("db"), r.getAs[Long]("n_common"),
      r.getAs[Long]("n_union"))).toSet
    assert(got == expected,
      s"x129 output must equal brute-force doc pairs (${expected.size})")
  }

  test("x129: forced-collapse, forced-no-collapse and adaptive are output-identical") {
    val a = LlmQueries.x129Parts(spark, sf, Some(true)).out.collect()
      .map(_.toSeq).toSet
    val b = LlmQueries.x129Parts(spark, sf, Some(false)).out.collect()
      .map(_.toSeq).toSet
    val c = LlmQueries.x129Parts(spark, sf).out.collect()
      .map(_.toSeq).toSet
    assert(a == b && b == c)
  }

  test("x13-LSH: candidate volume derives from bucket sizes and is never all-pairs") {
    import org.apache.spark.sql.functions._
    val docs = core.Io.table(spark, sf, "documents")
    val n = docs.count()
    val sizes = LlmQueries.bandBuckets(docs)
      .groupBy("band", "bh").agg(count(lit(1)).as("c"))
      .collect().map(_.getAs[Long]("c"))
    val candFromSizes = sizes.map(c => c * (c - 1) / 2).sum
    // the aggregate must equal the per-bucket recomputation
    val aggCand = LlmQueries.bandBuckets(docs)
      .groupBy("band", "bh").agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2"))).head().getLong(0)
    assert(aggCand == candFromSizes)
    val allPairs = n * (n - 1) / 2
    assert(candFromSizes < allPairs / 10,
      s"banded candidates ($candFromSizes) must sit far under all-pairs ($allPairs)")
  }

  // ---- structural invariants beyond x129/x13 (verdict r11 #3): a
  // volume regression must FAIL A SPEC. These are the cheap shape
  // contracts; walls are the bench's business.

  test("x47: fixpoint converges in a bounded round count") {
    import graft.queries.LlmQueries
    LlmQueries.x47DedupComponents(spark, sf).count()
    val rounds = LlmQueries.x47LastRounds.get()
    // label propagation halves the longest unresolved path per round;
    // dup components are md5-fingerprint stars (diameter ≤ 2 hops), so
    // double-digit rounds would mean the edge frame or the propagation
    // rule regressed — it has never needed more than 2
    assert(rounds >= 1 && rounds <= 10,
      s"x47 fixpoint took $rounds rounds — propagation shape regressed")
  }

  test("x269/x276: outputs are source-pair-bounded (x276 exactly the pair spine)") {
    import graft.queries.Round11Queries
    val srcWithText = core.Io.table(spark, sf, "documents")
      .where("text IS NOT NULL").select("source").distinct().count()
    val allPairs = srcWithText * (srcWithText - 1) / 2
    val x269 = Round11Queries.x269DupLeakage(spark, sf).count()
    assert(x269 <= allPairs,
      s"x269 emitted $x269 rows > C($srcWithText,2)=$allPairs — the " +
        "fingerprint collapse no longer bounds the self-join by sources")
    // r12 contract: EVERY pair is reported (disjoint pairs carry zeros)
    val x276 = Round11Queries.x276WeightedJaccard(spark, sf).count()
    assert(x276 == allPairs,
      s"x276 emitted $x276 rows, spine contract says exactly $allPairs")
  }

  test("x283: output is exactly ceil(n/25) — the systematic-design size guarantee") {
    import graft.queries.Round11Queries
    val n = core.Io.table(spark, sf, "documents").count()
    val got = Round11Queries.x283SystematicSample(spark, sf).count()
    assert(got == (n + 24) / 25,
      s"x283 emitted $got rows for n=$n, expected ${(n + 24) / 25}")
  }
}
