package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`: specs that count
  * listener events call it before reading their counts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
