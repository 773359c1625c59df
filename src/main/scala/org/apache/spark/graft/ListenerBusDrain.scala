package org.apache.spark

/** Shim exposing the `private[spark]` listener-bus drain to
  * [[graft.Bench]], which attributes task metrics to the timed sample
  * that produced them by blocking on `LiveListenerBus.waitUntilEmpty()`
  * (every queued event dispatched) after each sample, outside the timed
  * region, instead of a fixed sleep that silently mis-attributes late
  * events. Measurement-only surface; nothing in the library's query path
  * touches it.
  */
object GraftListenerBusDrain {
  /** Block until the listener bus has dispatched every queued event.
    * Throws `TimeoutException` after the bus's default wait (10 s) —
    * loud is correct for a measurement tool: a bus that can't drain
    * means the metrics are not attributable. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
