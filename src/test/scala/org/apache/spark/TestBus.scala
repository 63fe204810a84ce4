package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object TestBus {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
