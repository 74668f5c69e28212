package org.apache.spark

/** Test access to the context's private listener bus: blocks until every
  * posted event is delivered, so the status tracker has seen every job an
  * action launched. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
