package org.apache.spark

/** The listener bus is asynchronous; the traced run waits for it to empty
  * after each op so every event of that op is in hand before the next op
  * starts. The bus is package-private, hence this one-line bridge.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
