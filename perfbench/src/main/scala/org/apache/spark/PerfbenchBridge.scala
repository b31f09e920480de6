package org.apache.spark

/** Access to the one engine internal the benchmark needs: waiting until
  * the listener bus has delivered every posted event, so counters read
  * after a call include all of that call's tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
