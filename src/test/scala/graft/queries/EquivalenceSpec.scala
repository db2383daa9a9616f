package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded-random equivalence properties: the scale-shaped formulations
  * (banded range join, bucketed NN) must produce exactly what their naive
  * definitions produce. The naive sides are computed with different Spark
  * code paths (crossJoin + filter, higher-order-function dot product), so a
  * bug in the banding or bucket plumbing cannot cancel itself out.
  */
class EquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(7)

  test("x29 banding == naive inequality join on random order histories") {
    for (_ <- 1 to 3) {
      val dir = tmpDir("eqv29").toString
      val n = 150 + rnd.nextInt(100)
      // timestamps cluster inside ±45 days so pairs regularly straddle the
      // 30-day band boundary
      val rows = (0 until n).map { i =>
        val cust = (rnd.nextInt(12) + 1).toLong
        val ms = 1700000000000L + rnd.nextInt(90) * 86400000L + rnd.nextInt(1000) * 1000L
        (i.toLong, cust, new java.sql.Timestamp(ms))
      }
      rows.toDF("o_orderkey", "o_custkey", "o_orderdate")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")

      val banded = ExtendedQueries.x29RangeJoin(spark, dir)
        .select("k1", "k2", "gap_ms").as[(Long, Long, Long)].collect().toSet

      val o = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("ms"))
      val naive = o.as("a").crossJoin(o.as("b"))
        .filter(col("a.c") === col("b.c") &&
          col("b.ms") > col("a.ms") &&
          col("b.ms") <= col("a.ms") + 30L * 86400000L)
        .select(col("a.k"), col("b.k"), (col("b.ms") - col("a.ms")).as("g"))
        .as[(Long, Long, Long)].collect().toSet

      assert(banded == naive, s"banded=${banded.size} naive=${naive.size}")
    }
  }

  test("x28 bucketed NN == brute-force argmax within each bucket on random embeddings") {
    for (_ <- 1 to 2) {
      val dir = tmpDir("eqv28").toString
      val n = 60 + rnd.nextInt(40)
      val rows = (0 until n).map { i =>
        (i.toLong, "l", Array.fill(8)(rnd.nextFloat() * 2f - 1f))
      }
      rows.toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val got = LlmQueries.x28CosineNeardup(spark, dir)
        .as[(Long, Long, Double)].collect().toSet

      // naive: crossJoin within bucket, HOF dot product (not FloatDot),
      // same stable rounding, argmax by (cosine desc, nn asc)
      val bucket = (0 until 6).map { i =>
        (element_at(col("embedding"), i + 1) > 0).cast("int") * (1 << (5 - i))
      }.reduce(_ + _)
      val dot = (a: String, b: String) =>
        expr(s"aggregate(zip_with($a, $b, (x, y) -> double(x) * double(y)), 0d, (s, v) -> s + v)")
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"), bucket.as("bk"))
      val pairs = e.as("a").crossJoin(e.as("b"))
        .filter(col("a.bk") === col("b.bk") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("nn"),
          ExtendedQueries.stableRound6(dot("a.embedding", "b.embedding") /
            (sqrt(dot("a.embedding", "a.embedding")) * sqrt(dot("b.embedding", "b.embedding"))))
            .as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("v").orderBy(desc("cos"), col("nn"))
      val naive = pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("v", "nn", "cos").as[(Long, Long, Double)].collect().toSet

      assert(got == naive, s"got=${got.size} naive=${naive.size}")
    }
  }

  test("x69 == x46 row-for-row on a PII-free corpus (redaction is a strict no-op)") {
    // the sf0.001 fixture carries no PII, so the v3 pipeline must be
    // byte-identical to v2 — this catches a scrub regex that accidentally
    // fires on clean tokens (which would silently perturb every
    // downstream signal while both oracles stayed green)
    val sf = "/root/testdata/sf0.001"
    val v2 = LlmQueries.x46PrepPipelineV2(spark, sf)
      .as[(Long, String, Double)].collect().toSeq
    val v3 = LlmQueries.x69PrepPipelineV3(spark, sf)
      .as[(Long, String, Double)].collect().toSeq
    assert(v2.nonEmpty && v3 == v2)
  }

  test("x53 measure and x107 removal share one chunk grammar on the real fixture") {
    val sf = "/root/testdata/sf0.001"
    // Per-doc chunk counts must be identical (same 20-token slicing), and
    // the chunks x53 counts as globally unique must be exactly the chunks
    // x107 keeps beyond each hash's first occurrence: n_kept ==
    // n_chunks - (duplicate occurrences after the first). Computed from the
    // two DECLARED queries only, so a grammar change in one of them that
    // doesn't reach the other fails here before the oracle round.
    val measure = LlmQueries.x53ChunkDedup(spark, sf)
      .select("doc_id", "n_chunks").as[(Long, Long)].collect().toMap
    val removal = LlmQueries.x107ChunkDedupClean(spark, sf)
      .select("doc_id", "n_chunks", "n_kept").as[(Long, Long, Long)].collect()
    assert(removal.nonEmpty && removal.forall { case (id, n, _) => measure(id) == n })
    // global invariant: total kept == number of DISTINCT chunk strings in
    // the corpus (keep-first retains exactly one occurrence per distinct
    // chunk) — recomputed independently from the raw text
    val distinctChunks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(explode(expr(
        "transform(sequence(0, cast(ceil(size(toks) / 20.0) as int) - 1)," +
          " c -> array_join(slice(toks, c * 20 + 1, 20), ' '))")).as("chunk"))
      .distinct().count()
    assert(removal.map(_._3).sum == distinctChunks)
  }
}
