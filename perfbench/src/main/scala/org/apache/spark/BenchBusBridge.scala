package org.apache.spark

/** Access to the SparkContext's listener bus, which is package-private:
  * the traced run drains it after every operation so each listener
  * event is attributed to the operation that caused it. */
object BenchBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
