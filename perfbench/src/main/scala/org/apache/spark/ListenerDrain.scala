package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so a span's accounting is complete when the span is read. The
  * listener bus is private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
