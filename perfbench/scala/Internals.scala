package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the harness needs: block until every
  * listener queue has delivered the events posted so far, so that a
  * span's stage, task and query-execution events are in before the
  * span is closed out. */
object Internals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
