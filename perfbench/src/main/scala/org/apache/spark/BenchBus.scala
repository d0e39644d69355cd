package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so the
  * benchmark's listeners have seen a pass completely before it is summed.
  * The bus is package-private, hence this one accessor in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
