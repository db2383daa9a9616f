package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style invariants for the round-9 primitives over seeded random
  * inputs: CMS never undercounts, SpaceSaving's classic bounds, the
  * generator's equivalence to Scala's sliding windows, and totality of the
  * streaming top-k order (NaN/None included).
  */
class SketchPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(1234)

  test("cms_estimate: estimate >= true count for every item, over random streams") {
    for (_ <- 1 to 3) {
      val items = Seq.fill(500)(s"it${rnd.nextInt(60)}")
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val sk = items.toDF("s")
        .agg(expr("count_min_sketch(s, cast(0.01 as double), cast(0.9 as double), 5)"))
        .head().getAs[Array[Byte]](0)
      val est = truth.keys.toSeq.toDF("s")
        .select(col("s"), call_function("cms_estimate", lit(sk), col("s")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      truth.foreach { case (k, t) =>
        assert(est(k) >= t, s"$k: est ${est(k)} < true $t")
      }
    }
  }

  test("space_saving: capacity, bounds, and >n/m retention over random skewed streams") {
    for (_ <- 1 to 3) {
      // zipf-ish: item i has weight ~ 1/(i+1)
      val items = Seq.fill(600)(s"z${math.min(49, (1 / (rnd.nextDouble() + 0.02)).toInt)}")
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val m = 6
      val out = items.toDF("s").repartition(1) // single stream: classic bounds
        .agg(expr(s"space_saving(s, $m)")).head()
        .getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(out.size <= m)
      out.foreach { case (item, cnt, err) =>
        val t = truth.getOrElse(item, 0L)
        assert(cnt >= t && cnt - err <= t, s"$item: [$cnt-$err, $cnt] vs true $t")
      }
      val n = items.size
      truth.filter(_._2 > n.toDouble / m).keys.foreach { heavy =>
        assert(out.exists(_._1 == heavy), s"item $heavy with count > n/m must be retained")
      }
    }
  }

  test("char_ngrams equals Scala's sliding windows on random strings") {
    val strs = Seq.fill(30)(Random.alphanumeric.take(rnd.nextInt(12)).mkString)
    for (n <- Seq(1, 2, 4)) {
      val expect = strs.flatMap(s => if (s.length >= n) s.sliding(n).toSeq else Nil)
      val got = strs.toDF("s").select(expr(s"char_ngrams(s, $n)"))
        .collect().map(_.getString(0)).toSeq
      assert(got.sorted == expect.sorted, s"n=$n")
    }
  }

  test("StreamingTopK.ord is a TOTAL order: antisymmetric and sort-stable with NaN/None") {
    import graft.streaming.StreamingTopK.{Ev, ord}
    val evs = Seq.fill(200)(Ev(
      rnd.nextInt(3).toLong, rnd.nextInt(20).toLong, rnd.nextInt(5).toLong,
      rnd.nextInt(4) match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case _ => Some(rnd.nextInt(3).toDouble)
      }))
    for (a <- evs.take(40); b <- evs.take(40)) {
      assert(math.signum(ord.compare(a, b)) == -math.signum(ord.compare(b, a)))
      if (ord.compare(a, b) == 0)
        assert(a.tsMicros == b.tsMicros && a.eventId == b.eventId,
          "compare 0 must mean the unique tie-break matched")
    }
    // a total order sorts any permutation to the same sequence
    val s1 = evs.sorted(ord)
    val s2 = rnd.shuffle(evs).sorted(ord)
    assert(s1.map(e => (e.eventId, e.tsMicros)) == s2.map(e => (e.eventId, e.tsMicros)))
  }
}
