package org.apache.spark

/** The one package-private hook the harness needs: block until the
  * listener bus has delivered every posted event, so per-layer counts
  * read after a phase are complete.
  */
object PerfBenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
