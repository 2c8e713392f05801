package org.apache.spark

/** Access to the listener bus, which is private to Spark: specs that
  * record listener events read them only after every posted event has
  * been delivered. */
object ListenerEvents {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
