package org.apache.spark.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Bridge into the `private[spark]` thread-local property accessors.
  *
  * A job inherits its group, description, scheduler pool and tags from
  * the Spark local properties of the thread that submits it. Threads copy
  * those properties from their parent only once, when they are created, so
  * an action handed to a pooled thread must carry the caller's properties
  * over explicitly.
  */
object LocalProperties {

  /** A copy of the calling thread's local properties. */
  def capture(sc: SparkContext): Properties = Utils.cloneProperties(sc.getLocalProperties)

  /** Runs `body` on this thread under `props` (a [[capture]]d copy), then
    * restores the thread's own properties.
    */
  def withProperties[T](sc: SparkContext, props: Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }
}
