package graft

import scala.util.control.NonFatal

/** Round-15 measurement tool (optimization guide §1 / §7.2): one line per
  * declared query with physical-plan shape counts — parquet scans,
  * exchanges, join strategies, plan size — so duplicated-subtree offenders
  * (the x140 class: N references to an unpinned frame re-plan the whole
  * upstream DAG N times) surface as scan counts far above the query's
  * table count. Mostly explain-only — the timed consume never runs — but
  * builders that pin eagerly (PinnedResult forces with count()) do pay
  * their build here, same as under PlanDump.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object PlanCensus {
  // Anchored node-header counts (ADVICE r15): count "(n) NodeKind" detail
  // headers so each column counts exactly one node kind — a bare
  // "Exchange" regex also matched BroadcastExchange/ReusedExchange and
  // "Subquery" matched SubqueryBroadcast, inflating the shuffle ranks.
  def count(plan: String, node: String): Int =
    ("""(?m)^\(\d+\) """ + node + """($| )""").r.findAllIn(plan).size

  /** Subqueries are not numbered nodes: formatted explain prints each one
    * as a `Subquery:N Hosting operator …` section header. */
  def subqueries(plan: String): Int =
    """(?m)^Subquery:\d+ Hosting """.r.findAllIn(plan).size

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Tuning.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names = args.toSeq match {
      case Nil => SparkEntry.queries.keys.toSeq.sorted
      case xs  => xs
    }
    println("query\tlines\tscans\texchanges\tsmj\tbhj\tinmem\tsubqueries")
    for (name <- names) {
      val line = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Seq(name, p.linesIterator.size, count(p, "Scan parquet"),
          count(p, "Exchange"), count(p, "SortMergeJoin"),
          count(p, "BroadcastHashJoin"), count(p, "InMemoryTableScan"),
          subqueries(p)).mkString("\t")
      } catch { case NonFatal(e) =>
        s"$name\tERROR\t${e.getClass.getSimpleName}"
      }
      println(line)
    }
    spark.stop()
  }
}
