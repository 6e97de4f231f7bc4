package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until the
  * listener bus has delivered every queued event, so the task metrics a
  * span reads are complete when the span's numbers are computed. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
