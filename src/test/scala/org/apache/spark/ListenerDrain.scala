package org.apache.spark

/** Test access to the one listener-bus call a job-counting spec needs:
  * block until every posted event has reached the listeners, so the
  * jobs of a finished action are all counted before the spec reads the
  * count. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
