package org.apache.spark

/** The listener bus is private to Spark; counts read before it drains miss
  * the events of the last jobs.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
