package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer drains the bus at every layer boundary so task and query
  * events are attributed to the layer that produced them, never to the
  * one that follows. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
