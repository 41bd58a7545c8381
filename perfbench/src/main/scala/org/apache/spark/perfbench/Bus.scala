package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `listenerBus` is private[spark]: the traced run drains it before it
  * reads its listeners, so every job, task and query callback of the run
  * has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
