package org.apache.spark

/** Accessor for the `private[spark]` listener bus: the traced run waits
  * until every event of an op has been delivered before it attributes
  * jobs, stages and tasks to that op's spans.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
