package org.apache.spark

/** Lets a test wait until every queued listener event has been
  * delivered, so the task metrics it sums are complete before it reads
  * them (`listenerBus` is private to the `org.apache.spark` package). */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
