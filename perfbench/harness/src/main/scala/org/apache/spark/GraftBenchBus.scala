package org.apache.spark

/** The listener bus is private to Spark; the traced run must see every
  * event of a pass before it detaches its listeners. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
