package org.apache.spark

/** The one package-private Spark hook the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so per-span counts
  * are complete when read (no fixed sleep).
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
