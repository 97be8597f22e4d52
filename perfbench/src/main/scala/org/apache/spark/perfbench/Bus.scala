package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The tracer drains the
  * bus when it closes a span, so that every stage and query event the
  * span caused is attributed to it before the next span opens. The bus
  * is `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
