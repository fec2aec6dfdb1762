package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Posts an event onto a context's listener bus. Every listener queue
  * delivers in post order, so a listener that has received the event has
  * also received every event posted before it: a bracket can be closed
  * without sleeping to let the bus drain. (The bus is `private[spark]`,
  * hence this package.) */
object BusMarker {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
