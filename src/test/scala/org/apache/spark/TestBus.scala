package org.apache.spark

/** The specs' doorway into Spark's package-private listener bus: listener
  * events arrive asynchronously, so a spec that asserts on what a
  * listener saw drains the bus first. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
