package org.apache.spark

/** Package-scoped access to the driver's listener bus for specs that
  * count jobs: `listenerBus` is `private[spark]`. */
object GraftTestBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
