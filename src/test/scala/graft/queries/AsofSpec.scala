package graft.queries

import graft.SparkSpec
import java.sql.Timestamp

/** x22 as-of semantics on crafted fixtures: <= boundary inclusion,
  * same-date order dedup (max orderkey wins), no-prior-order → null,
  * user-without-orders → null.
  */
class AsofSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join boundary and tie semantics") {
    val dir = tmpDir("asof").toString
    def nanos(s: String): Long = Timestamp.valueOf(s).getTime * 1000000L

    Seq(
      (100L, 1L, Timestamp.valueOf("2024-01-10 00:00:00")),
      (101L, 1L, Timestamp.valueOf("2024-01-10 00:00:00")), // same date: max wins
      (102L, 1L, Timestamp.valueOf("2024-01-20 00:00:00")),
      (200L, 2L, Timestamp.valueOf("2024-01-15 00:00:00"))
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    Seq(
      (1L, 1L, nanos("2024-01-10 00:00:00")), // exactly at order date → <= matches
      (2L, 1L, nanos("2024-01-25 00:00:00")), // after both → latest (102)
      (3L, 2L, nanos("2024-01-01 00:00:00")), // before user's only order → null
      (4L, 3L, nanos("2024-01-05 00:00:00"))  // user with no orders → null
    ).toDF("event_id", "user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = ExtendedQueries.x22AsofJoin(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out == Map(
      1L -> Some(101L), 2L -> Some(102L), 3L -> None, 4L -> None))
  }
}
