package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * waits until every posted event has been delivered, so a listener's
  * counts are complete when the test reads them.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
