package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** SpaceSaving aggregate contracts: exact (and merge-order-independent)
  * while distinct ≤ capacity; under pressure, the classic guarantees —
  * overestimation bounded by err, true count ∈ [cnt − err, cnt], and any
  * item with true count > n/m retained (single-stream regime).
  */
class SpaceSavingSpec extends SparkSpec {
  import spark.implicits._

  private def summarize(items: Seq[String], m: Int, partitions: Int): Seq[(String, Long, Long)] = {
    items.toDF("s").repartition(partitions)
      .agg(expr(s"space_saving(s, $m)"))
      .head().getSeq[Row](0).map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
  }

  test("exact when distinct <= capacity, any partitioning; (cnt desc, item asc) order") {
    val items = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++ Seq("d")
    for (parts <- Seq(1, 7)) {
      val out = summarize(scala.util.Random.shuffle(items), 8, parts)
      assert(out == Seq(("a", 5L, 0L), ("b", 3L, 0L), ("c", 3L, 0L), ("d", 1L, 0L)),
        s"parts=$parts")
    }
  }

  test("under pressure (single stream): heavy item retained, err bounds hold") {
    // n = 40 observations, m = 4 counters: any item with true count > 10
    // must be retained; every reported (cnt, err) satisfies
    // cnt - err <= true <= cnt
    val truth = Map("hot" -> 16L, "warm" -> 8L) ++
      (1 to 16).map(i => s"noise$i" -> 1L).toMap
    val stream = truth.toSeq.sortBy(_._1).flatMap { case (s, n) =>
      Seq.fill(n.toInt)(s)
    }
    val out = summarize(stream, 4, 1)
    assert(out.size == 4, "capacity must bound the summary")
    assert(out.exists(_._1 == "hot"), "an item with count > n/m must survive")
    out.foreach { case (item, cnt, err) =>
      val t = truth.getOrElse(item, 0L)
      assert(cnt - err <= t && t <= cnt,
        s"$item: true $t outside [${cnt - err}, $cnt]")
    }
  }

  test("distributed merge under pressure: no retained item ever undercounts") {
    // m = 3, 8 partitions, items with very different masses — eviction and
    // merge-truncation both fire; for every retained counter the classic
    // bounds cnt >= true >= cnt - err must survive the partition merges
    // (floor inheritance: an item absent from one partial contributes that
    // partial's min, never zero)
    val truth = Map("heavy" -> 400L, "mid" -> 60L, "low" -> 12L) ++
      (1 to 40).map(i => s"n$i" -> 2L).toMap
    val stream = scala.util.Random.shuffle(
      truth.toSeq.flatMap { case (s, n) => Seq.fill(n.toInt)(s) })
    val out = summarize(stream, 3, 8)
    assert(out.size == 3)
    out.foreach { case (item, cnt, err) =>
      val t = truth.getOrElse(item, 0L)
      assert(cnt >= t, s"$item undercounts: cnt=$cnt true=$t")
      assert(cnt - err <= t, s"$item err bound broken: cnt=$cnt err=$err true=$t")
    }
    assert(out.exists(_._1 == "heavy"), "the dominant item must survive any merge order")
  }

  test("eviction inherits the evicted minimum; smallest tied item survives") {
    // capacity 2: stream a, b, then c — c evicts the minimum; a and b tie
    // at count 1, rule evicts the lexicographically LARGEST (b), so a
    // survives and c reports (cnt=2, err=1)
    val out = summarize(Seq("a", "b", "c"), 2, 1)
    assert(out.toSet == Set(("c", 2L, 1L), ("a", 1L, 0L)))
  }
}
