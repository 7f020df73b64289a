package org.apache.spark

/** The Spark-private calls the tests need. */
object GraftTestAccess {
  /** Listener events are delivered asynchronously, so a count is read
    * only after the bus has delivered everything posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` with the core setting `key` (one each new task set
    * reads from the running context, e.g. `spark.driver.maxResultSize`)
    * set to `value`; the old setting is restored after. */
  def withCoreConf[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val old = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally old.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
