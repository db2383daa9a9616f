package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style invariants over seeded random dirty frames (SURVEY §5.2):
  * dedup idempotence/minimality, conformity bounds, clean() idempotence.
  * Fixed seed keeps runs reproducible; sizes stay small because each case
  * costs Spark jobs.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)

  /** Random dirty fraud-like frame: nulls, negative amounts, duplicates. */
  private def randomFrame(n: Int): DataFrame = {
    def opt[T](v: T): Option[T] = if (rnd.nextInt(10) == 0) None else Some(v)
    val rows = (0 until n).map { i =>
      val dup = rnd.nextInt(4) == 0 && i > 0 // reuse an earlier key sometimes
      val k   = if (dup) rnd.nextInt(i) else i
      (i.toLong,
        opt(1700000000000L + (k % 50) * 1000L),
        opt(if (rnd.nextBoolean()) "sale" else "refund"),
        opt(rnd.nextInt(200).toDouble - 20.0),
        opt(s"addr${k % 10}"))
    }
    rows.toDF("id", "timestamp", "transaction_type", "amount", "receiving_address")
  }

  /** `Pipeline.clean` with the timestamp decision its probe takes on `df`. */
  private def cleaned(df: DataFrame): DataFrame = {
    val unit = Timestamps.rawProbe(df, "timestamp").flatMap { p =>
      p.epochUnit(df.agg(p.aggs.head, p.aggs.tail: _*).first())
    }
    Pipeline.clean(df, unit)
  }

  test("keepFirst: idempotent, one row per key, output subset of input, lowest order key wins") {
    val keys = Seq("timestamp", "receiving_address", "transaction_type", "amount")
    for (_ <- 1 to 5) {
      val df   = randomFrame(100 + rnd.nextInt(100)).repartition(5)
      val once = Dedup.keepFirst(df, keys, "id")
      // one row per composite key
      assert(once.groupBy(keys.map(col): _*).count().filter(col("count") > 1).isEmpty)
      // idempotent
      assert(Dedup.keepFirst(once, keys, "id").except(once).isEmpty
        && once.except(Dedup.keepFirst(once, keys, "id")).isEmpty)
      // subset of input
      assert(once.except(df).isEmpty)
      // the kept row per key carries the group's min id
      val minIds = df.groupBy(keys.map(col): _*).agg(min("id").as("id"))
      assert(once.select((col("id") +: keys.map(col)): _*)
        .except(minIds.select((col("id") +: keys.map(col)): _*)).isEmpty)
    }
  }

  test("conformity is always within [0, 1] and anti-monotone in injected dirtiness") {
    for (_ <- 1 to 5) {
      val m = Quality.profile(randomFrame(50 + rnd.nextInt(150)), "p")
      assert(m.conformityRate >= 0.0 && m.conformityRate <= 1.0)
      assert(m.failedRowsEstimate >= 0)
    }
    // fully-violating frame floors at 0
    val worst = Seq.fill(10)((None: Option[Long], None: Option[String], Some(-1.0)))
      .toDF("timestamp", "transaction_type", "amount")
    assert(Quality.profile(worst, "w").conformityRate == 0.0)
  }

  test("clean() is idempotent on already-clean output") {
    for (_ <- 1 to 3) {
      val raw = Dedup.stampIngestOrder(
        randomFrame(150).drop("id")
          .withColumn("location_region",
            when(pmod(rand(5) * 3, lit(3)).cast("int") === 0, lit("0")).otherwise(lit("eu")))
          .withColumn("risk_score", rand(7) * 10))
      val once  = cleaned(raw)
      val twice = cleaned(once)
      assert(twice.count() == once.count())
      val cols = Seq("transaction_type", "amount", "receiving_address", "location_region")
      assert(twice.select(cols.map(col): _*).except(once.select(cols.map(col): _*)).isEmpty)
    }
  }
}
