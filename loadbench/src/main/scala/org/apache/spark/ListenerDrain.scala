package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced op's job, stage, task and query events are all counted before
  * the next op starts. The bus is private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
