package org.apache.spark

/** The one Spark-private call the benchmark needs: listener events are
  * delivered asynchronously, so before a measured window is read every
  * queued job, task and streaming-progress event must have reached the
  * benchmark's listeners. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
