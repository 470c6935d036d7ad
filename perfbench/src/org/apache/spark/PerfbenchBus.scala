package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a counter snapshot taken after a job includes that job's tasks.
  * The bus is package-private to Spark, hence this shim's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
