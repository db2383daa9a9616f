package graft

import org.apache.spark.ActiveJobs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — Spark session
  * startup costs seconds; per-suite sessions would dominate test time. It
  * is the mains' own session (`Tuning.session`), extensions included.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.Tuning.session("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temp dir, deleted with everything under it after the suite. */
  def tmpDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(d.toFile)
    d
  }

  override def afterAll(): Unit =
    try tmpDirs.forEach(org.apache.commons.io.FileUtils.deleteDirectory(_))
    finally super.afterAll()

  /** Spark jobs started while `body` runs, bus drained on both sides. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ActiveJobs.drain(sc)
    sc.addSparkListener(listener)
    try { body; ActiveJobs.drain(sc) } finally sc.removeSparkListener(listener)
    started.get
  }

  def collectSingle[T](df: DataFrame): T =
    df.collect().head.getAs[T](0)

  /** Rows of a 1-col DataFrame as a list (null-safe). */
  def col0[T](df: DataFrame): Seq[Any] =
    df.collect().toSeq.map(r => if (r.isNullAt(0)) null else r.get(0))

  /** Lowercase-hex MD5 of the UTF-8 bytes — the portability convention every
    * oracle hash uses (one definition; specs must not re-derive it).
    */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
