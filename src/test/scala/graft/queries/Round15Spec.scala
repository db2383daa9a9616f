package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-recomputes for the round-15 corpus-preparation audits: each query
  * is re-derived in plain JVM Scala from the fixture rows (collected —
  * the sf0.001 corpus is 500 docs) and compared exactly, the
  * Round13/14Spec discipline.
  */
class Round15Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def haveFixture = new java.io.File(s"$sf/documents.parquet").exists()

  private def fixtureTokens: Seq[(Long, String, Array[String])] =
    graft.core.Io.table(spark, sf, "documents")
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
      .toSeq.sortBy(_._1)

  test("x359: fragment counts match a JVM walk of the packed stream") {
    assume(haveFixture)
    // JVM recompute: lens in doc_id order, running offset, closed-form
    // fragment count per (doc, B)
    val lens = graft.core.Io.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    val total = lens.sum
    val expected = Seq(64L, 128L, 256L, 512L).map { b =>
      var s0 = 0L; var frags = 0L; var split = 0L
      lens.foreach { len =>
        val f = (s0 + len - 1) / b - s0 / b + 1
        frags += f; if (f > 1) split += 1
        s0 += len
      }
      (b, lens.size.toLong, total, (total + b - 1) / b, split, frags)
    }
    val got = Round15Queries.x359PackFrontier(spark, sf)
      .select("block_size", "n_docs", "total_tokens", "n_blocks",
        "n_split_docs", "total_fragments")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("x360: a planted 8-gram leak is flagged; disjoint docs are clean") {
    assume(haveFixture)
    // JVM recompute of the whole audit from the fixture: split by the
    // same md5 nibble, per-doc distinct 8-grams, train distinct set
    val docs = fixtureTokens.filter(_._3.length >= 8)
    def isTest(id: Long) = "012".contains(md5hex(s"dc:$id").charAt(0))
    def grams(t: Array[String]): Set[String] =
      t.sliding(8).map(_.mkString(" ")).toSet
    val train = docs.filter(d => !isTest(d._1)).flatMap(d => grams(d._3)).toSet
    val expected = docs.filter(d => isTest(d._1))
      .map { case (_, src, t) =>
        val g = grams(t)
        (src, g.size.toLong, g.count(train).toLong)
      }
      .groupBy(_._1).view.mapValues { xs =>
        (xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum,
          xs.count(_._3 > 0).toLong)
      }.toMap
    val got = Round15Queries.x360Decontamination(spark, sf)
      .select("source", "n_test_docs", "n_test_grams", "n_hit_grams",
        "n_contaminated_docs")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(got === expected)
    // the fixture's exact-duplicate docs guarantee real leakage exists
    // somewhere (a dup pair straddling the split shares every gram) —
    // if this ever reads 0 the audit lost its teeth, investigate
    assert(got.values.map(_._3).sum > 0, "no leakage found: fixture drift?")
  }

  test("x361: planted stitch pair arithmetic on a synthetic frame") {
    // synthetic: B's prefix == A's suffix; C a self-stitching doc
    // (prefix == suffix); D unrelated. Counts are exact products minus
    // the diagonal self-pair.
    import spark.implicits._
    val rows = Seq(
      (1L, "sA", "x y z w p q r s"),   // suffix "p q r s"
      (2L, "sB", "p q r s t u v w"),   // prefix "p q r s" -> stitch (sA,sB)
      (3L, "sC", "m n o k m n o k"),   // prefix == suffix -> self only
      (4L, "sD", "a b c d e f g h"))
    val df = rows.toDF("doc_id", "source", "text")
    val dir = tmpDir("x361spec").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Round15Queries.x361FragmentStitch(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // sC's self-pair is subtracted on the diagonal; sB's suffix "t u v w"
    // matches nothing; only (sA -> sB) survives
    assert(got === Seq(("sA", "sB", 1L)))
  }

  test("x362: planted loops land exact repeat counts per period") {
    // synthetic: p=1 run ("x x x x" → 4), p=2 loop ("a b a b a b" → 3),
    // p=3 loop ("u v w u v w u v w" → 3 — and its p=1/p=2 views show no
    // repeat), a repeat-free doc, and the r<p edge ("a b a" → 1 single
    // match at p=2, NOT a full bigram repeat)
    import spark.implicits._
    val rows = Seq(
      (1L, "sA", "x x x x q"),
      (2L, "sA", "a b a b a b"),
      (3L, "sB", "u v w u v w u v w"),
      (4L, "sB", "m n o k"),
      (5L, "sC", "a b a"))
    val dir = tmpDir("x362spec").toString
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Round15Queries.x362RepetitionLoop(spark, dir)
      .select("source", "p", "n_docs", "n_repeating", "n_looping", "max_repeats")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val expected = Seq(
      ("sA", 1L, 2L, 1L, 1L, 4L),  // "x x x x": run 3 at p=1 → 4 repeats
      // p=2: doc2 "a b a b a b" run 4 → 3; doc1 "x x x x" ALSO repeats
      // its 2-gram (run 2 → 2) — both docs count as repeating
      ("sA", 2L, 2L, 2L, 0L, 3L),
      ("sA", 3L, 2L, 0L, 0L, 1L),
      ("sB", 1L, 2L, 0L, 0L, 1L),
      ("sB", 2L, 2L, 0L, 0L, 1L),
      ("sB", 3L, 2L, 1L, 0L, 3L),  // run 6 at p=3 → 3 repeats
      ("sC", 1L, 1L, 0L, 0L, 1L),
      ("sC", 2L, 1L, 0L, 0L, 1L),  // "a b a": r=1 < p=2 → 1, not repeating
      ("sC", 3L, 1L, 0L, 0L, 1L))
    assert(got === expected)
  }

  test("x363: a collapsed cone reads ~1, an orthogonal basis reads ~0, fixture matches JVM") {
    import spark.implicits._
    // label 0: 4 copies of one direction → every pairwise cosine 1;
    // label 1: 4 orthogonal basis vectors → every pairwise cosine 0
    val dim = 8
    def basis(i: Int) = Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)
    val same = Array.tabulate(dim)(j => (j + 1).toFloat)
    val rows =
      (0 until 4).map(i => (i.toLong, same, 0)) ++
      (0 until 4).map(i => ((i + 10).toLong, basis(i), 1))
    val dir = tmpDir("x363spec").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Round15Queries.x363Anisotropy(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) === Seq((0L, 4L), (1L, 4L)))
    assert(math.abs(got(0)._3 - 1.0) < 1e-4, s"collapsed cone: ${got(0)._3}")
    assert(math.abs(got(1)._3) < 1e-6, s"orthogonal basis: ${got(1)._3}")

    // fixture: exact JVM recompute of the closed form
    val sf0 = sf
    assume(new java.io.File(s"$sf0/embeddings.parquet").exists())
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val fix = graft.core.Io.table(spark, sf0, "embeddings")
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("label").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val byLabel = fix.groupBy(_._1)
    val expected = byLabel.view.mapValues { vs =>
      val units = vs.map(_._2).flatMap { e =>
        val xm = e.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
        val nr = math.floor(math.sqrt(xm.map(v => v * v).sum.toDouble) + 0.5) / 1e6
        if (nr > 0) Some(xm.map(v => BigDecimal(r6((v / 1e6) / nr))
          .setScale(6))) else None
      }
      val n = units.size
      val qq = units.map(_.map(v => v * v).sum).sum.toDouble
      val dims = units.head.indices.map(d => units.map(_(d)).sum)
      val s2 = dims.map(s => s * s).sum.toDouble
      (n.toLong, r6((s2 - qq) / (n.toDouble * (n - 1).toDouble)))
    }.toMap
    val gotFix = Round15Queries.x363Anisotropy(spark, sf0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(gotFix === expected.filter(_._2._1 > 1))
  }

  test("x364: Gini is 0 for equal lengths, exact for a planted skew, fixture matches JVM") {
    import spark.implicits._
    // sE: all equal lengths → gini 0; sS: lengths 1,1,1,7 →
    // sorted ranks (1,2,3)·1 + 4·7 = 34, n=4, tot=10:
    // (2·34 − 5·10)/(4·10) = 18/40 = 0.45
    val rows = Seq(
      (1L, "sE", "a b c"), (2L, "sE", "d e f"), (3L, "sE", "g h i"),
      (4L, "sS", "a"), (5L, "sS", "b"), (6L, "sS", "c"),
      (7L, "sS", "w w w w w w w"))
    val dir = tmpDir("x364spec").toString
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Round15Queries.x364LengthGini(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(("sE", 3L, 9L, 0.0), ("sS", 4L, 10L, 0.45)))

    assume(haveFixture)
    val fix = fixtureTokens.map(d => (d._2, d._3.length.toLong))
    val expected = fix.groupBy(_._1).view.mapValues { xs =>
      val sorted = xs.map(_._2).sorted
      val n = sorted.size.toLong; val tot = sorted.sum
      val s1 = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      (n, tot, math.floor((2.0 * s1 - (n + 1) * tot) / (n.toDouble * tot)
        * 1e6 + 0.5) / 1e6)
    }.toMap
    val gotFix = Round15Queries.x364LengthGini(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(gotFix === expected)
  }

  test("x361: fixture cells match a JVM recompute of the count products") {
    assume(haveFixture)
    val docs = fixtureTokens.filter(_._3.length >= 5)
    def pre(t: Array[String]) = t.take(4).mkString(" ")
    def suf(t: Array[String]) = t.takeRight(4).mkString(" ")
    val sCnt = docs.groupBy(d => (suf(d._3), d._2)).view.mapValues(_.size.toLong)
    val pCnt = docs.groupBy(d => (pre(d._3), d._2)).view.mapValues(_.size.toLong)
    val raw = scala.collection.mutable.Map.empty[(String, String), Long]
    for (((h, sa), sc) <- sCnt; ((h2, sb), pc) <- pCnt if h == h2)
      raw((sa, sb)) = raw.getOrElse((sa, sb), 0L) + sc * pc
    val self = docs.filter(d => pre(d._3) == suf(d._3))
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = raw.toSeq.map { case ((a, b), n) =>
      (a, b, n - (if (a == b) self.getOrElse(a, 0L) else 0L))
    }.filter(_._3 > 0).sortBy(t => (t._1, t._2))
    val got = Round15Queries.x361FragmentStitch(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expected)
  }
}
