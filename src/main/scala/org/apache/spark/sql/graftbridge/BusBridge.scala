package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus, so a listener's
  * counts can be read after every event posted so far was handled
  * (events are delivered asynchronously, on the bus thread). */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
