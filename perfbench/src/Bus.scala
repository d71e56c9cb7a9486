package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; this is its only use. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
