package org.apache.spark

/** The listener-bus drain is private[spark]; the traced run needs it so
  * every job, task and query event of a span has been delivered before
  * the span's totals are read. Nothing else of Spark is touched. */
package object perfbench {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
