package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the listener bus's drain, which Spark keeps `private[spark]`:
  * [[graft.Census]] reads its counts only after every event the measured
  * body posted was delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
