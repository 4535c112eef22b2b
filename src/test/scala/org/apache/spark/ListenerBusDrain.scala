package org.apache.spark

/** Listener events arrive asynchronously; draining the spark-private bus
  * makes every event of the calls made so far visible to a listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
