package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every event
  * posted so far, so listener counters are complete when they are read.
  * The bus is private[spark], hence this one object in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
