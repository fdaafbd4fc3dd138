package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private. */
object ListenerBusDrain {
  /** Blocks until every posted listener event has been delivered. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
