package org.apache.spark

/** The one Spark-internal call the tracer needs: wait until the listener
  * bus has delivered every posted event, so a span's job and stage
  * events are counted before the next span starts. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
