package graft.core

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** [[Io.replay]], the one path every streaming replay runs through: it
  * leaves the session's confs and streams as it found them, keeps one
  * input and one checkpoint dir per tag, and runs the stream to the end.
  */
class IoReplaySpec extends SparkSpec {
  import spark.implicits._

  private val partKey = "spark.sql.shuffle.partitions"
  private val provKey = "spark.sql.streaming.stateStore.providerClass"

  /** The provider conf, None when the session has not set it. */
  private def providerConf(): Option[String] =
    Option.when(spark.sessionState.conf.contains(provKey))(spark.conf.get(provKey))

  /** Three rows `x = 1, 2, 3`, read back from parquet like a fixture. */
  private def input(): DataFrame = {
    val dir = tmpDir("graft_replay").resolve("t.parquet").toString
    Seq(1L, 2L, 3L).toDF("x").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def memorySink(name: String)(stream: DataFrame) = {
    spark.catalog.dropTempView(name)
    stream.writeStream.format("memory").queryName(name).outputMode("append")
  }

  /** Runs `body` with the partitions conf at 5 and the provider conf set
    * to `provider` (unset when None), and checks that both read the same
    * afterwards and that no stream is left running.
    */
  private def leavesSessionAsFound(provider: Option[String])(body: => Unit): Unit = {
    val priorParts = spark.conf.get(partKey)
    val priorProv = providerConf()
    spark.conf.set(partKey, "5")
    provider.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
    try {
      body
      assert(spark.conf.get(partKey) == "5")
      assert(providerConf() == provider)
      assert(spark.streams.active.isEmpty)
    } finally {
      spark.conf.set(partKey, priorParts)
      priorProv.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
    }
  }

  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  for (provider <- Seq(None, Some(hdfsProvider))) {
    val found = provider.fold("unset")(_ => "set")
    for (rocksDb <- Seq(true, false)) {
      test(s"a replay (rocksDb=$rocksDb) leaves the confs as found, provider $found") {
        leavesSessionAsFound(provider) {
          Io.replay(input(), "spec_replay_ok", rocksDb)(memorySink("spec_replay_ok"))
          assert(spark.table("spec_replay_ok").count() == 3)
        }
      }
    }

    test(s"a replay whose query throws leaves the confs as found, provider $found") {
      leavesSessionAsFound(provider) {
        val e = intercept[IllegalStateException] {
          Io.replay(input(), "spec_replay_throws", rocksDb = true) { _ =>
            assert(spark.conf.get(partKey) == "8")
            assert(spark.conf.get(provKey).endsWith("RocksDBStateStoreProvider"))
            throw new IllegalStateException("query failed")
          }
        }
        assert(e.getMessage == "query failed")
      }
    }

    test(s"a replay whose stream fails leaves the confs as found, provider $found") {
      leavesSessionAsFound(provider) {
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          Io.replay(input(), "spec_replay_fails", rocksDb = true)(stream =>
            memorySink("spec_replay_fails")(stream.selectExpr("assert_true(x < 0) AS ok")))
        }
      }
    }
  }

  test("two replays with one tag leave only the second one's dirs") {
    def dirs(root: File, kind: String): Set[String] =
      root.listFiles().map(_.getName).filter(_.startsWith(s"spec_replay_twice_${kind}_")).toSet
    val first = new File(Io.replay(input(), "spec_replay_twice", rocksDb = false)(
      memorySink("spec_replay_twice")))
    val root = first.getParentFile
    val (in1, ck1) = (dirs(root, "in"), dirs(root, "ck"))
    assert(in1.size == 1 && ck1 == Set(first.getName))
    val second = new File(Io.replay(input(), "spec_replay_twice", rocksDb = false)(
      memorySink("spec_replay_twice")))
    val (in2, ck2) = (dirs(root, "in"), dirs(root, "ck"))
    assert(ck2 == Set(second.getName), "only the second checkpoint is left")
    assert(in2.size == 1 && in2 != in1, "only the second input is left")
    assert(second.isDirectory)
  }

  test("a memory-sink replay of three rows returns those rows") {
    Io.replay(input(), "spec_replay_rows", rocksDb = false)(memorySink("spec_replay_rows"))
    assert(spark.table("spec_replay_rows").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }
}
