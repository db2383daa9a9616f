package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Guards the bench METRIC itself (verdict r13 #6): the count() consume
  * hole survived eleven rounds because nothing watched it — Catalyst may
  * legally eliminate cardinality-preserving subtrees under a bare
  * count(), so the benched wall measured a fraction of the declared work
  * (x13's counted plan was literally count(1) over raw parquet). This
  * spec executes [[Bench.consume]] — the exact path main times — on
  * three sentinel queries chosen because their plans ARE count-prunable,
  * and asserts via a QueryExecutionListener that the EXECUTED optimized
  * plan retains the full declared operator census. If anyone simplifies
  * consume back to a prunable consumer, the executed census collapses
  * for the sentinels and this fails.
  */
class BenchConsumeSpec extends SparkSpec {

  // x348 was a round-13 count()-prune audit find, but its same-round
  // restructure (one union+aggregate finale) made it consumer-proof — no
  // longer a sentinel; x211's backbone join structure remains
  // count()-prunable.
  private val sentinels =
    Seq("x13_minhash_neardup", "x114_stream_batch_parity",
      "x211_graph_backbone")

  /** Operator census of an optimized plan (joins / windows / generates /
    * aggregates): a consumer whose optimized plan scores BELOW the full
    * plan's census has let Catalyst eliminate declared work.
    */
  private def census(p: LogicalPlan): Int =
    p.collect { case n if n.nodeName.contains("Join") ||
      n.nodeName.contains("Window") || n.nodeName.contains("Generate") ||
      n.nodeName.contains("Aggregate") => 1 }.sum

  test("Bench.consume executes the full declared plan on the prunable sentinels") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.add(census(qe.optimizedPlan))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for (name <- sentinels) {
        val df = SparkEntry.queries(name)(spark, sf)
        val full = census(df.queryExecution.optimizedPlan)
        // the sentinel property: a count() consumer WOULD prune this plan.
        // If a refactor makes the sentinel unprunable (e.g. it becomes a
        // pinned query), it no longer guards anything — swap in another
        // query whose counted census is below its full census.
        val counted =
          census(df.groupBy().count().queryExecution.optimizedPlan)
        assert(counted < full,
          s"$name is no longer count()-prunable (full=$full counted=$counted)" +
            " — it cannot act as a consume-path sentinel; replace it")
        captured.clear()
        Bench.consume(df)
        // listener events are delivered async — poll for an execution that
        // carried the full census
        val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
        var ok = false
        while (!ok && System.nanoTime() < deadline) {
          ok = captured.stream().anyMatch(c => c >= full)
          if (!ok) Thread.sleep(50)
        }
        assert(ok,
          s"$name: Bench.consume executed census " +
            s"${captured.toArray.toSeq} < declared full census $full — " +
            "the bench consume path is pruning declared work again")
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
