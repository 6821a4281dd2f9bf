package org.apache.spark

/** The one Spark-internal call the layer benchmark needs: wait until the
  * listener bus has delivered every posted event, so per-pass counters read
  * after a pass are complete.
  */
object LayerBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
