package org.apache.spark

/** The one Spark-internal hook the benchmark needs: blocking until the
  * listener bus has delivered every event posted so far, so per-layer
  * counters are complete before they are read. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
