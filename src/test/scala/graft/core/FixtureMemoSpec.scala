package graft.core

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.CacheEntries
import org.apache.spark.storage.StorageLevel

/** The shared policy of every fixture-derived cache: key on sfDir plus the
  * fixture stamp, two entries, release on eviction, drop stale entries,
  * leave nothing behind a failed build.
  */
class FixtureMemoSpec extends SparkSpec {
  import spark.implicits._

  /** A fixture dir holding one small table `t.parquet`. */
  private def fixture(): String = {
    val dir = tmpDir("graft_fixturememo")
    Seq(1, 2, 3).toDF("x").write.parquet(s"$dir/t.parquet")
    dir.toString
  }

  private def frames() =
    new FixtureMemo[DataFrame]("spec_frames", "t", _.unpersist())

  private def cached(session: SparkSession, dir: String): DataFrame = {
    val df = session.read.parquet(s"$dir/t.parquet").persist()
    df.count()
    df
  }

  private def isCached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("a hit returns the same frame; the miss is timed under the memo's name") {
    val memo = frames()
    val dir = fixture()
    val built = memo(spark, dir)(cached(spark, dir))
    assert(MemoMeter.snapshot().exists(_._1 == "spec_frames"))
    assert(memo(spark, dir)(fail("a hit must not build")) eq built)
    assert(memo.hits.get == 1)
    built.unpersist()
  }

  test("a touched fixture and a different sfDir each miss") {
    val memo = frames()
    val (a, b) = (fixture(), fixture())
    val first = memo(spark, a)(cached(spark, a))
    // regen simulation: same bytes, new mtime — the stamp must move
    val part = new File(s"$a/t.parquet").listFiles().filter(_.getName.startsWith("part-")).head
    assert(part.setLastModified(part.lastModified() + 5000L))
    val touched = memo(spark, a)(cached(spark, a))
    assert(touched ne first)
    val other = memo(spark, b)(cached(spark, b))
    assert(other ne touched)
    assert(memo.hits.get == 0)
    Seq(first, touched, other).foreach(_.unpersist())
  }

  test("a third key evicts the least recently used entry and unpersists it") {
    val memo = frames()
    val Seq(a, b, c) = Seq.fill(3)(fixture())
    val n0 = CacheEntries.count(spark)
    val fa = memo(spark, a)(cached(spark, a))
    val fb = memo(spark, b)(cached(spark, b))
    assert(CacheEntries.count(spark) == n0 + 2)
    assert(memo(spark, a)(fail("a is still held")) eq fa) // b is now eldest
    val fc = memo(spark, c)(cached(spark, c))
    assert(CacheEntries.count(spark) == n0 + 2)
    assert(!isCached(fb), "the evicted frame is released")
    assert(isCached(fa) && isCached(fc))
    assert(memo(spark, a)(fail("a survives the eviction")) eq fa)
    Seq(fa, fc).foreach(_.unpersist())
  }

  test("an entry from a different session is dropped and released") {
    // A stopped session cannot be staged here: every suite shares one
    // SparkContext. A stopped session's successor is a different session
    // object, which is the case this checks.
    val memo = frames()
    val dir = fixture()
    val old = memo(spark, dir)(cached(spark, dir))
    val session = spark.newSession()
    // a different plan: the same plan would share the old frame's cache entry
    val fresh = memo(session, dir) {
      val df = session.read.parquet(s"$dir/t.parquet").selectExpr("x + 1 AS y").persist()
      df.count()
      df
    }
    assert(fresh ne old)
    assert(!isCached(old), "the stale entry is released")
    assert(memo(session, dir)(fail("the new session's entry is held")) eq fresh)
    fresh.unpersist()
  }

  test("a throwing build leaves no entry and rethrows") {
    val memo = frames()
    val dir = fixture()
    val e = intercept[IllegalStateException] {
      memo(spark, dir)(throw new IllegalStateException("build failed"))
    }
    assert(e.getMessage == "build failed")
    var builds = 0
    val df = memo(spark, dir) { builds += 1; cached(spark, dir) }
    assert(builds == 1 && memo.hits.get == 0)
    df.unpersist()
  }

  test("Io.freshTmpDir deletes its tag's previous dir and keeps other tags'") {
    def made(tag: String): File = {
      val d = new File(Io.freshTmpDir(spark, tag))
      assert(d.mkdirs())
      Files.write(new File(d, "part").toPath, Array[Byte](1))
      d
    }
    val a1 = made("spec_tmp_a")
    val b1 = made("spec_tmp_b")
    val a2 = made("spec_tmp_a")
    assert(!a1.exists(), "the same tag's previous dir is deleted")
    assert(b1.isDirectory && a2.isDirectory)
    Seq(a2, b1).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }
}
