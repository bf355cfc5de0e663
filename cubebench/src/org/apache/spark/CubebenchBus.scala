package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced build's job and task records are complete before they are read.
  */
object CubebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
