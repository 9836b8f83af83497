package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so counters read after an iteration include all of its jobs and tasks.
  * The bus is private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
