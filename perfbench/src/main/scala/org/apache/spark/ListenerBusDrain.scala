package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so a traced operation's task metrics are complete before
  * they are read (`listenerBus` is private to the `org.apache.spark`
  * package). */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
