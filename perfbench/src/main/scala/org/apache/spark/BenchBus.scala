package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete listener records. The bus drain is internal
  * to Spark, hence this accessor in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
