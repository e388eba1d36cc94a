package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events are
  * delivered asynchronously, so per-pass counters are read only after the
  * bus has delivered every event of that pass. `listenerBus` is
  * `private[spark]`, hence this object's package. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
