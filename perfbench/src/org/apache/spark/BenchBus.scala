package org.apache.spark

/** The listener bus is asynchronous and its drain hook is package-private;
  * this is the one benchmark file that reaches into it, so per-operation
  * counters are read only after every event of the operation arrived.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
