package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the benchmark needs: block until every
  * posted listener event (jobs, tasks, SQL executions, streaming progress)
  * has been delivered, so counters read after a timed line belong to it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
