package org.apache.spark

/** The one engine internal the benchmark needs: draining the listener bus,
  * so every job, stage and SQL-metric event of a run has been delivered to
  * the benchmark's listener before the run record is written. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
