package org.apache.spark

/** The listener bus is asynchronous and `waitUntilEmpty` is spark-private:
  * drain it before reading anything a listener recorded, so jobs that have
  * already ended are not missed. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
