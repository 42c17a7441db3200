package org.apache.spark

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs reads its listener only after every posted event has arrived.
  * `waitUntilEmpty` is package-private to Spark, hence this accessor.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
