package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a listener's counts taken after an action include its jobs. The
  * bus is package-private to Spark, hence this helper's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
