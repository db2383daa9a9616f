package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec

/** The component-engine memo (r9 verdict ask #3): x47/x104/x238 share ONE
  * converged fixpoint per (sfDir, fixture stamp) instead of re-running the
  * band-bucket propagation per declared query. The memo must (a) actually
  * reuse, (b) invalidate when the fixture changes (mtime/size/file-count
  * stamp), and (c) keep the consumers' results identical to a fresh run.
  */
class X47MemoSpec extends SparkSpec {

  private def copyFixture(): String = {
    val dir = tmpDir("x47memo").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("x47 memo: second run is a hit; x104/x238 ride the same fixpoint") {
    val dir = copyFixture()
    val h0 = LlmQueries.x47MemoHits.get()
    val first = LlmQueries.x47DedupComponents(spark, dir).collect()
    assert(LlmQueries.x47MemoHits.get() == h0, "first run must compute")
    val second = LlmQueries.x47DedupComponents(spark, dir).collect()
    assert(LlmQueries.x47MemoHits.get() == h0 + 1, "second run must hit")
    assert(second.toSeq == first.toSeq, "memo hit must not change results")
    LlmQueries.x104SplitAssign(spark, dir).count()
    LlmQueries.x238ComponentSizes(spark, dir).count()
    assert(LlmQueries.x47MemoHits.get() == h0 + 3,
      "x104 and x238 must reuse the memoized fixpoint")
  }

  test("x47 memo: fixture change invalidates (stamp covers mtime)") {
    val dir = copyFixture()
    val before = LlmQueries.x47DedupComponents(spark, dir).collect()
    val h0 = LlmQueries.x47MemoHits.get()
    // regen simulation: same bytes, new mtime — the stamp must move
    val f = new java.io.File(s"$dir/documents.parquet")
    assert(f.setLastModified(f.lastModified() + 5000L))
    val after = LlmQueries.x47DedupComponents(spark, dir).collect()
    assert(LlmQueries.x47MemoHits.get() == h0,
      "touched fixture must force a recompute, not a memo hit")
    assert(after.toSeq == before.toSeq)
  }

  test("x47 memo: switching sfDir recomputes (key includes the dir)") {
    val a = copyFixture()
    val b = copyFixture()
    LlmQueries.x47DedupComponents(spark, a).count()
    val h0 = LlmQueries.x47MemoHits.get()
    LlmQueries.x47DedupComponents(spark, b).count()
    assert(LlmQueries.x47MemoHits.get() == h0, "different dir: no hit")
    LlmQueries.x47DedupComponents(spark, b).count()
    assert(LlmQueries.x47MemoHits.get() == h0 + 1, "same dir again: hit")
  }
}
