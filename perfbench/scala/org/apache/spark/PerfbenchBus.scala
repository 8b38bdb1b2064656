package org.apache.spark

/** Waits until the driver's listener bus has delivered every posted event,
  * so a traced phase reads complete job, stage and task records. The bus is
  * package-private to Spark, hence this one-method bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
