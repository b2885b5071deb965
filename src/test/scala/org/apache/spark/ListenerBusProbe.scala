package org.apache.spark

import scala.jdk.CollectionConverters._

/** Test-side view of a SparkContext's listener bus, which is
  * `private[spark]`. */
object ListenerBusProbe {
  /** How many streaming-query listener buses are attached to `sc`'s bus. */
  def streamBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
}
