package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** SparkContext.listenerBus is private[spark]: the traced run drains it
  * at every span end so listener counters are complete before they are
  * read, instead of sleeping for a fixed time. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
