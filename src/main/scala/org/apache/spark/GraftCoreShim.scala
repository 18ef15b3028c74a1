package org.apache.spark

/** Minimal private[spark] bridge: block until every listener queue has
  * delivered the events posted so far (the wait Spark's own suites use
  * before reading listener state). A job's end and task-end events are
  * posted before its action returns, so after this call a listener has
  * seen all of them. */
object GraftCoreShim {
  def awaitListeners(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
