package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** D1 keep-first semantics, including the ingest-order stamp that must
  * reproduce input byte order regardless of how Spark packs file splits into
  * partitions (splits are binned by size DESC, so partition index does NOT
  * track file order — the round-1 verdict's finding).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("keepFirst keeps lowest order-key row per composite key, even shuffled") {
    val df = Seq(
      (5L, "u1", "a", 50.0),
      (1L, "u1", "a", 10.0),
      (3L, "u1", "b", 30.0),
      (2L, "u2", "a", 20.0),
      (4L, "u2", "a", 40.0)
    ).toDF("id", "user", "typ", "v").repartition(7) // destroy input order
    val out = Dedup.keepFirst(df, Seq("user", "typ"), "id")
      .orderBy("id").select("id", "v").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  test("keepFirst with no present key columns is a no-op") {
    val df = Seq((1, "a"), (2, "a")).toDF("id", "x")
    assert(Dedup.keepFirst(df, Seq("missing"), "id").count() == 2)
  }

  test("keepFirstByIngestOrder on in-memory data keeps first occurrence") {
    val df = Dedup.stampIngestOrder(Seq(
      ("2024-01-01", "addr1", "sale", 10.0), // first occurrence — must win
      ("2024-01-01", "addr1", "sale", 10.0),
      ("2024-01-02", "addr1", "sale", 10.0)
    ).toDF("timestamp", "receiving_address", "transaction_type", "amount"))
    assert(Dedup.keepFirstByIngestOrder(df).count() == 2)
    intercept[IllegalArgumentException] {
      Dedup.keepFirstByIngestOrder(Seq(("a", 1)).toDF("timestamp", "amount"))
    }
  }

  test("ingest stamp reconstructs byte order across files of adverse sizes") {
    // Lexicographically-FIRST file is tiny; a later file is much bigger.
    // Split packing sorts by size desc, so the big file lands in partition 0
    // and a bare monotonically_increasing_id would call its rows "first".
    // The (file, block, pos) stamp must still rank a0.csv's rows first.
    val dir: Path = tmpDir("dedup_files")
    Files.writeString(dir.resolve("a0.csv"),
      "timestamp,receiving_address,transaction_type,amount\n" +
        "2024-01-01,dup,sale,10.0\n")
    val big = new StringBuilder("timestamp,receiving_address,transaction_type,amount\n")
    big ++= "2024-01-01,dup,sale,10.0\n" // same composite key as a0's row
    (0 until 5000).foreach(i => big ++= s"2024-01-01,u$i,sale,1.0\n")
    Files.writeString(dir.resolve("z1.csv"), big.toString)

    val raw = Dedup.stampIngestOrder(
      spark.read.option("header", "true").csv(dir.toString))
    val winner = Dedup.keepFirst(raw,
        Seq("timestamp", "receiving_address", "transaction_type", "amount"),
        Dedup.IngestIdCol)
      .filter(col("receiving_address") === "dup")
      .select(col(s"${Dedup.IngestIdCol}.file")).as[String].collect()
    assert(winner.length == 1)
    assert(winner.head.endsWith("a0.csv"),
      s"keep-first must keep the row from the lexicographically-first file, got ${winner.head}")
  }

  test("ingest stamp reconstructs row order when one file is split into many blocks") {
    val dir: Path = tmpDir("dedup_splits")
    val sb = new StringBuilder("id,payload\n")
    (0 until 2000).foreach(i => sb ++= s"$i,xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx$i\n")
    Files.writeString(dir.resolve("one.csv"), sb.toString)

    val conf = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096") // force many splits
      val stamped = Dedup.stampIngestOrder(
        spark.read.option("header", "true").csv(dir.toString))
      assert(stamped.rdd.getNumPartitions > 1, "test needs multiple splits to be meaningful")
      val ids = stamped.orderBy(col(Dedup.IngestIdCol))
        .select(col("id").cast("long")).as[Long].collect().toSeq
      assert(ids == (0L until 2000L), "stamp order must equal file byte order")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", conf)
  }
}
