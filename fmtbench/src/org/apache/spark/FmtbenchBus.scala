package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so a traced run's job and stage records are complete before they
  * are summarised. (`LiveListenerBus.waitUntilEmpty` is spark-private.) */
object FmtbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
