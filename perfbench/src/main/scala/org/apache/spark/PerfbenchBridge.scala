package org.apache.spark

/** Access to the listener bus drain that Spark keeps `private[spark]`:
  * the trace recorder must see every event of a finished call before it
  * reads its counters.
  */
object PerfbenchBridge {
  /** Blocks until every posted listener event was delivered; throws a
    * TimeoutException after `timeoutMs`.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
