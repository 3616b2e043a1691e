package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * Listener callbacks run on Spark's asynchronous bus, so the benchmark
  * drains it before reading counters or switching the label that events
  * are attributed to. Lives in this package because the bus is
  * `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
