package org.apache.spark

/** The one Spark-private call the tests need: listener events are
  * delivered asynchronously, so a count is read only after the bus has
  * delivered everything posted so far. */
object GraftTestAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
