package org.apache.spark

/** Bridge to the package-private listener bus: whatever tallies or
  * prints per-query listener events (graft.Profile, JobCountProbe,
  * JobBudgetSpec) must drain the ASYNC listener bus between queries or
  * events bleed across boundaries. Same minimal-shim discipline as
  * [[org.apache.spark.sql.GraftSqlBridge]] — one forwarding call, no
  * behavior.
  */
object GraftListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
