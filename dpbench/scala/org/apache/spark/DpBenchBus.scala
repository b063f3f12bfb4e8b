package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * benchmark reads complete job/stage/task records right after a release.
  * Lives in Spark's package because the listener bus is `private[spark]`. */
object DpBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
