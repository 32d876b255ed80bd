package org.apache.spark

/** The listener bus drains asynchronously; the traced run reads its
  * counters only after every posted event has been delivered.
  * `waitUntilEmpty` is package-private to Spark, hence this shim. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
