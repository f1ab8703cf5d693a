package org.apache.spark

/** The listener bus is `private[spark]`; the tracer waits on it here so
  * every job, task and query-execution event of a traced call has been
  * delivered before the call's counts are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
