package org.apache.spark

/** The listener bus is private to Spark; the traced run needs it
  * drained before its listeners come off, so that every event of a
  * traced block is delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
