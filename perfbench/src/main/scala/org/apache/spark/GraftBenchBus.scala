package org.apache.spark

/** The listener bus's drain is `private[spark]`; the traced run needs it
  * so that every job, stage and task event is counted before metrics are
  * read. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
