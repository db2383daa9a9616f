package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one cache for values derived from a driver fixture that several
  * queries share: candJaccard's candidate pairs (x322, x332, x333, x340)
  * and the x47 component fixpoint (x47, x104, x238, x248). A value used by
  * one query alone is rebuilt on every call instead: such a memo can hit
  * only when that query repeats, never on a cold pass. A cached value is a
  * pure function of the fixture, so it is keyed on `sfDir` plus
  * [[Io.fixtureStamp]] of `table`; a regenerated fixture moves the stamp
  * and misses.
  *
  *   - Two entries per memo: Bench warms each query at sf0.001 right before
  *     timing it at the measured SF, so a single slot would be evicted by
  *     every consumer's own warmup. Evicting an entry releases it.
  *   - An entry built in a different session, or in one that has stopped,
  *     is dropped, released and rebuilt.
  *   - A miss is timed by [[MemoMeter]] under `name` and builds under the
  *     memo's lock, so concurrent callers of one key build it once.
  *   - A build that throws leaves no entry. Release failures are ignored:
  *     evicting through a dead session must not fail the evicting query.
  */
final class FixtureMemo[V](name: String, table: String, release: V => Unit) {
  private final class Entry(val value: V, val session: SparkSession)

  // access order: a hit makes its entry the last one evicted
  private val entries = new java.util.LinkedHashMap[String, Entry](4, 0.75f, true)

  /** Lookups answered from an entry (Bench reports x47's). */
  val hits = new java.util.concurrent.atomic.AtomicInteger(0)

  def apply(spark: SparkSession, sfDir: String)(build: => V): V = synchronized {
    val key = s"$sfDir|${Io.fixtureStamp(spark, sfDir, table)}"
    val cur = entries.get(key)
    if (cur != null && (cur.session eq spark) && !spark.sparkContext.isStopped) {
      hits.incrementAndGet()
      cur.value
    } else {
      if (cur != null) drop(key)
      val built = MemoMeter.time(name)(build)
      entries.put(key, new Entry(built, spark))
      if (entries.size > 2) drop(entries.keySet.iterator.next())
      built
    }
  }

  private def drop(key: String): Unit = {
    val e = entries.remove(key)
    try release(e.value) catch { case NonFatal(_) => () }
  }
}
