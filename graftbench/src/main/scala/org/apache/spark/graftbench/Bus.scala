package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains at every span boundary so that asynchronous
  * listener events land on the span that caused them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
