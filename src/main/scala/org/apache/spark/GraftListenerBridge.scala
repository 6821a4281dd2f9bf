package org.apache.spark

/** Bridge to the package-private listener bus: graft.Trace, which every
  * per-query job count and profile reads, drains the ASYNC listener bus
  * at each phase boundary, or events would bleed across phases. Same minimal-shim discipline as
  * [[org.apache.spark.sql.GraftSqlBridge]] — one forwarding call, no
  * behavior.
  */
object GraftListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
