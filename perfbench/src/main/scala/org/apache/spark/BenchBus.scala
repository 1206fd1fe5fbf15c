package org.apache.spark

/** Listener delivery is asynchronous; the benchmark reads its listeners
  * only after every event posted so far has been delivered. The bus is
  * package-private, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
