package org.apache.spark

/** Accessor for the private[spark] listener-bus drain — the measurement
  * collector (graft.Profile.Collector) must flush all pending
  * SparkListenerStageCompleted events between probes; fixed sleeps let
  * a prior probe's late events bleed into the next tally (round-16
  * ADVICE). Same-package shim, no Spark internals copied. */
object GraftListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
