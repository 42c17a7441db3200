package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run reads its
  * counters only after every posted event has reached the listener.
  * `waitUntilEmpty` is package-private to Spark, hence this accessor.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
