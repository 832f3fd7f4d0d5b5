package org.apache.spark

/** The one doorway the benchmark needs into Spark's package-private
  * listener bus (the same pattern as the engine's `GraftSqlBridge`).
  * Listener events are delivered asynchronously; a span that closed
  * without draining would let its jobs' and actions' events land in the
  * next span's window. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
