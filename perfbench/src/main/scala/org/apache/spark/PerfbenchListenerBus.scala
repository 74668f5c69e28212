package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * tracer reads complete job/stage/task records. The listener bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
