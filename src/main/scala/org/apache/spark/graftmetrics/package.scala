package org.apache.spark

/** Access bridge: the listener bus drain that graft.util.Obs runs
  * before reading a span's totals is private[spark]. Main code; no
  * Spark behaviour is modified. */
package object graftmetrics {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
