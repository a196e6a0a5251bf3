package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the traced run folds complete job, task and query-execution records.
  * The wait is package-private in Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
