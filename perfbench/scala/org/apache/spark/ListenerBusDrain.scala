package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the traced run reads complete queues. `listenerBus` is package-private
  * to Spark, hence this one-line bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
