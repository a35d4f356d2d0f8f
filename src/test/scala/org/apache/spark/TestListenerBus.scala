package org.apache.spark

/** Test-side access to the package-private listener bus: a spec that
  * counts listener events drains the bus first, so every event of the
  * work it measured has been delivered before it reads the count. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
