package org.apache.spark

/** Reaches the one `private[spark]` hook the traced run needs: draining the
  * listener bus, so every event of a query has been delivered before its
  * per-query counters are read. Called only between queries, never inside
  * a timed window. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
