package org.apache.spark

/** Access to the listener bus, which is private to Spark: specs that
  * record listener events read them only after every posted event has
  * been delivered. */
object ListenerEvents {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The number of Spark jobs started while `body` runs. */
  def jobsDuring(sc: SparkContext)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new scheduler.SparkListener {
      override def onJobStart(e: scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { body; drain(sc) } finally sc.removeSparkListener(listener)
    n.get
  }
}
