package org.apache.spark

/** Test access to the jobs Spark still counts as running. The status
  * tracker reads a store that the asynchronous listener bus fills, and the
  * bus is package-private, so it is drained here first: a job that has
  * ended is then not reported, and one that is still running is.
  */
object ActiveJobs {
  def ids(sc: SparkContext): Seq[Int] = {
    drain(sc)
    sc.statusTracker.getActiveJobIds().toSeq
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
