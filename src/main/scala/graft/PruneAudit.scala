package graft

import scala.util.control.NonFatal

/** One-shot harness-honesty audit (round-13; the x348 lesson): the bench
  * metric is `count()`, and Catalyst may legally ELIMINATE subtrees a
  * count cannot observe — a cardinality-preserving left join against a
  * unique-key aggregate drops wholesale, taking its whole upstream with
  * it, so the benched number measures a fraction of the declared work.
  * For every declared query this prints the operator census (joins /
  * windows / generates / aggregates) of the full optimized plan vs the
  * `groupBy().count()` optimized plan; a drop means the bench wall
  * under-measures that query. Pinned queries (work forced internally,
  * result cached) legitimately score 0/0.
  */
object PruneAudit {
  /** Operator census of an optimized plan (joins / windows / generates /
    * aggregates) — the under-measurement detector: a consumer whose
    * optimized plan scores BELOW the full plan's census has let Catalyst
    * eliminate declared work. Public so BenchConsumeSpec can pin the
    * Bench consume path against exactly this regression.
    */
  def census(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    p.collect { case n if n.nodeName.contains("Join") ||
      n.nodeName.contains("Window") || n.nodeName.contains("Generate") ||
      n.nodeName.contains("Aggregate") => 1 }.sum

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Tuning.session("8")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    def score(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      census(p)
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        val full = score(df.queryExecution.optimizedPlan)
        val counted = score(df.groupBy().count().queryExecution.optimizedPlan)
        if (counted < full) {
          flagged += 1
          println(f"PRUNE $name%-30s full=$full%3d counted=$counted%3d")
        }
      } catch {
        case NonFatal(e) =>
          println(s"ERR   $name: ${String.valueOf(e.getMessage).take(100)}")
      }
    }
    println(s"AUDIT done: $flagged queries with count()-prunable operators")
    spark.stop()
  }
}
