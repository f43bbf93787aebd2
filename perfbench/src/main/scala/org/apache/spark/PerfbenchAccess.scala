package org.apache.spark

/** The one package-private hook the harness needs: wait until every
  * listener has seen every event posted so far, so listener-side totals
  * are complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
