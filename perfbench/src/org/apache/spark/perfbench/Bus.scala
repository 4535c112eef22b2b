package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers task and query events asynchronously; the
  * tracer drains it at every span boundary so each event lands in the span
  * whose calls produced it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
