package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-only bridge: `SparkContext.listenerBus` is `private[spark]`, and
  * the retry-masking guard in `graft.SparkSpec` must drain the async
  * listener bus before reading its failure counter, or a task failure
  * from the suite's last job could be attributed to the NEXT suite. */
object TestListenerBridge {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Streaming-query listener buses registered on the context's bus: one
    * per session that has started a stream and is still attached. */
  def streamListenerBuses(sc: SparkContext): Int = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.count(
      _.isInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus])
  }
}
