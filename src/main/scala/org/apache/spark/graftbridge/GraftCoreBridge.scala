package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Core-side bridge (the SQL twin lives in
  * org.apache.spark.sql.graftbridge): `listenerBus` is private[spark],
  * and [[graft.QueryProfile]] must drain it before it reads a body's
  * jobs and task metrics, so every event the body caused has arrived.
  */
object GraftCoreBridge {
  def waitListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
