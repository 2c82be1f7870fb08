package org.apache.spark

/** Drains Spark's listener bus so listener aggregates are complete before
  * the harness reads them. `waitUntilEmpty` is package-private to Spark,
  * hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
