package org.apache.spark

/** Access to the listener bus, which is private to Spark: the tracer
  * waits for it to drain before it reads what its listeners saw. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
