package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * listeners' counters only after the bus has drained. `waitUntilEmpty` is
  * package-private, hence this object's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
