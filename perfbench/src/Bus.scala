package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all of a run's jobs and progress reports
  * before their counts are read. The bus's own drain call is visible only
  * inside this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
