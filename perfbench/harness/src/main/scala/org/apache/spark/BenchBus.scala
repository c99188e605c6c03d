package org.apache.spark

/** The listener bus delivers events on its own thread. The benchmark reads
  * what its listeners collected only after every posted event has been
  * delivered, and the wait for that is private to Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
