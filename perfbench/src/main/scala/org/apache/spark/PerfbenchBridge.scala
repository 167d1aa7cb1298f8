package org.apache.spark

/** The one package-private Spark hook the benchmark needs: wait until
  * every queued listener event has been delivered, so the task metrics
  * of a finished action are counted before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
