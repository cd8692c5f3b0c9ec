package org.apache.spark

/** Test access to the listener bus: posts are asynchronous, so a spec
  * counting events must drain the bus before reading its counters. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
