package org.apache.spark

/** Drains Spark's listener bus, which is private to the `spark` package,
  * so listener-derived counts are complete before a spec reads them.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
