package org.apache.spark

import scala.jdk.CollectionConverters._

/** Test-side view of a SparkContext's listener bus, which is
  * `private[spark]`. */
object ListenerBusProbe {
  /** Wait until every event posted to `sc`'s bus so far has reached its
    * listeners. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** How many streaming-query listener buses are attached to `sc`'s bus. */
  def streamBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
}
