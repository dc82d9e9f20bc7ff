package org.apache.spark

/** Drains Spark's asynchronous listener bus, so every job, task and query
  * event a traced operation caused is delivered before the next operation
  * starts and is attributed to the operation that caused it. The bus is
  * package-private; this accessor lives in the package for that reason.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
