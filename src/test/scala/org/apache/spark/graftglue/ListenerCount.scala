package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** Listeners registered on the SparkContext's listener bus (a
  * `private[spark]` count the session-hygiene spec watches).
  */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
