package org.apache.spark

/** Test access to the `private[spark]` listener bus. */
object TestListenerBus {

  /** Block until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
