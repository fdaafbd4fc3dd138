package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus. */
object ListenerBusDrain {
  /** Blocks until every posted listener event has been delivered. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
