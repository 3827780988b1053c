package org.apache.spark

/** Flush of Spark's asynchronous listener bus, so the benchmark's
  * listeners have seen every event of a finished run before its numbers
  * are read. `listenerBus` is package-private, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
