package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

/** The two listener-bus queries the benchmark needs are `private[spark]`;
  * this accessor lives in Spark's package to reach them. */
object ListenerBusAccess {
  /** Block until every posted event has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Registered listeners whose class is `cls` (or a subclass). */
  def countOf(sc: SparkContext, cls: Class[_ <: SparkListenerInterface]): Int = {
    val it = sc.listenerBus.listeners.iterator()
    var n = 0
    while (it.hasNext) if (cls.isInstance(it.next())) n += 1
    n
  }
}
