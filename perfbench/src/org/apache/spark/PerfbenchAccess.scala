package org.apache.spark

/** The one package-private SparkContext call the benchmark needs: block
  * until the listener bus has delivered every event posted so far, so the
  * counters read after a pass include all of its tasks.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
