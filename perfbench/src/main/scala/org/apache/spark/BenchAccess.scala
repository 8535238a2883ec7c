package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting for the
  * listener bus to deliver every posted event, so counters read after
  * an operation include all of that operation's events. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
