package graft.core

/** Wall-clock meter for shared memo BUILDS (verdict r14 #6). Every
  * fixture-derived cache is a [[FixtureMemo]], the only caller of [[time]]:
  * candJaccard and the x47 component fixpoint amortize across their
  * consumers, but their one-time build cost used to land silently on
  * whichever consumer ran first in bench order — x62's committed wall
  * moved +1.0 s in r14 purely because it absorbed the shared candJaccard
  * build. A memo's miss runs under [[time]] with the memo's name; Bench
  * emits the per-name totals as a `memo_builds` object in bench_last.json,
  * so per-query walls become attributable (consumer time = reported wall
  * − its slice of the itemized shared builds).
  *
  * Seconds accumulate PER PROCESS across all invocations (a two-entry memo
  * can rebuild the same memo for warmup-SF and measured-SF entries — both
  * builds count; that is exactly the attribution the bench needs).
  * Queries also run under Verify/tests, where nothing reads the
  * meter — a few atomic adds per memo build is noise there.
  */
object MemoMeter {
  private val walls =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()

  /** Time one memo build; totals accumulate under `name`. */
  def time[T](name: String)(build: => T): T = {
    val t0 = System.nanoTime()
    try build
    finally walls
      .computeIfAbsent(name,
        _ => new java.util.concurrent.atomic.DoubleAdder)
      .add((System.nanoTime() - t0) / 1e9)
  }

  /** Per-name build seconds so far, name-sorted. */
  def snapshot(): Seq[(String, Double)] = {
    val b = Seq.newBuilder[(String, Double)]
    walls.forEach((k, v) => b += (k -> v.sum()))
    b.result().sortBy(_._1)
  }
}
