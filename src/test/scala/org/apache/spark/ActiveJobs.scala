package org.apache.spark

/** Test access to the jobs Spark still counts as running. The status
  * tracker reads a store that the asynchronous listener bus fills, and the
  * bus is package-private, so it is drained here first: a job that has
  * ended is then not reported, and one that is still running is.
  */
object ActiveJobs {
  def ids(sc: SparkContext): Seq[Int] = {
    sc.listenerBus.waitUntilEmpty()
    sc.statusTracker.getActiveJobIds().toSeq
  }
}
