package org.apache.spark

/** The listener bus is asynchronous and `waitUntilEmpty` is spark-private:
  * specs that count jobs drain it before reading, so a job that has
  * already ended is never missed (or counted in the next window). */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
