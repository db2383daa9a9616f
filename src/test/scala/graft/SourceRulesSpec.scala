package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Rules on the program's own sources, read as text: each pins a
  * duplicate mechanism or a broad catch that was removed, so a copy
  * cannot come back unnoticed.
  */
class SourceRulesSpec extends AnyFunSuite {

  private val sources: Seq[(String, Seq[String])] = {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala")).map { f =>
      val src = Source.fromFile(f, "UTF-8")
      try f.getPath -> src.getLines().toList finally src.close()
    }
  }

  /** `path:line` of every source line containing `needle`. */
  private def hits(needle: String): Seq[String] =
    for {
      (path, lines) <- sources
      (line, i) <- lines.zipWithIndex if line.contains(needle)
    } yield s"$path:${i + 1}"

  private def fileName(hit: String): String =
    new File(hit.takeWhile(_ != ':')).getName

  test("MemoMeter.time is called only from FixtureMemo") {
    val calls = hits("MemoMeter.time")
    assert(calls.nonEmpty, "FixtureMemo times its misses")
    assert(calls.forall(fileName(_) == "FixtureMemo.scala"), calls)
  }

  test("no hand-rolled LRU: removeEldestEntry appears nowhere") {
    assert(hits("removeEldestEntry").isEmpty, hits("removeEldestEntry"))
  }

  test("no blocking on the global ExecutionContext") {
    assert(hits("ExecutionContext.Implicits.global").isEmpty,
      hits("ExecutionContext.Implicits.global"))
  }

  test("fixture tables are read only through Io, which supplies their schema") {
    val reads = hits("read.parquet(s\"$sfDir")
    assert(reads.forall(fileName(_) == "Io.scala"), reads)
  }

  test("the nanosAsLong conf is set only in Io") {
    val sets = hits("spark.sql.legacy.parquet.nanosAsLong") ++
      hits("LEGACY_PARQUET_NANOS_AS_LONG")
    assert(sets.nonEmpty, "Io sets it for the TIMESTAMP(NANOS) vintage")
    assert(sets.forall(fileName(_) == "Io.scala"), sets)
  }

  // The needles below are split so that a text search of the whole source
  // tree finds no copy of them in this file either.

  test("engine extensions are installed only at session build, never at runtime") {
    val runtime = hits("experimental" + ".extra") ++ hits("GraftExtensions" + ".register")
    assert(runtime.isEmpty, runtime)
  }

  test("sessions are built only in Tuning") {
    val builds = hits("SparkSession" + ".builder")
    assert(builds.nonEmpty, "Tuning.session builds the one session")
    assert(builds.forall(fileName(_) == "Tuning.scala"), builds)
  }

  test("streaming replays run only through Io.replay") {
    val replays = hits("Trigger" + ".AvailableNow") ++ hits("stateStore" + ".providerClass")
    assert(replays.nonEmpty, "Io.replay runs every replay")
    assert(replays.forall(fileName(_) == "Io.scala"), replays)
  }

  test("catching Throwable is left only to Bench") {
    val catches = hits("case _: Throwable")
    assert(catches.forall(fileName(_) == "Bench.scala"), catches)
  }
}
