package org.apache.spark

/** Test access to the context's listener bus, which Spark keeps
  * `private[spark]`. */
object ListenerDrain {
  /** Block until every posted listener event has been delivered. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
