package org.apache.spark

/** Deterministic drain of the listener bus for the benchmark's trace:
  * `listenerBus` is private to `org.apache.spark`, so this one-line
  * shim lives in that package instead of polling until counts settle. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
