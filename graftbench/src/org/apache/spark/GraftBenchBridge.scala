package org.apache.spark

/** The listener bus is private to Spark; the benchmark must wait for it to
  * deliver every task-end event of a span before it reads the span's
  * counters, or the counters would lag the action that produced them.
  */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
