package org.apache.spark.wagebench

import org.apache.spark.SparkContext

/** Listener-bus drain. `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`, so the benchmark reaches it from inside the spark
  * package. Without the drain, a span could close while its job events
  * are still queued, and the job-start and job-end counts would both
  * read zero.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
