package org.apache.spark

/** The one Spark-internal call the harness needs: wait until the
  * listener bus has delivered every queued event, so listener totals
  * are complete before they are read.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
