package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so the
  * benchmark's listener totals are complete when it reads them.
  */
object PerfbenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
