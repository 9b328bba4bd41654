package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one scheduler internal the benchmark needs: waiting until every
  * posted listener event has been delivered, so a traced operation's
  * jobs, stages and query plans are all recorded before its span is
  * closed. Lives in Spark's package because the bus is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
