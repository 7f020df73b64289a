package org.apache.spark

/** The one Spark-private call the benchmark needs: listener events are
  * delivered asynchronously, so totals are read only after the bus has
  * delivered everything posted so far. */
object LakebenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
