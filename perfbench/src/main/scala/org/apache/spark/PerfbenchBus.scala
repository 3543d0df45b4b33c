package org.apache.spark

/** Listener-bus flush for the traced run. `LiveListenerBus.waitUntilEmpty`
  * is private[spark], so the benchmark reaches it from inside the spark
  * package, as `org.apache.spark.sql.graftbridge.Bridge` does for the
  * private[sql] conversions. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
