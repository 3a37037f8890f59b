package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced key's jobs, stages and tasks are all recorded before the
  * benchmark reads them. The bus is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
