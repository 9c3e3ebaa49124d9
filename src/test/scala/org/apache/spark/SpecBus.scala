package org.apache.spark

/** The listener bus is private to Spark. Specs that count events with
  * their own SparkListener drain it before reading their counters. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
