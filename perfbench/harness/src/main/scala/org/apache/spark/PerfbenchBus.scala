package org.apache.spark

/** Drains Spark's listener bus, so that counts read after an op include
  * every event the op posted. `listenerBus` is package-private, hence
  * this shim's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
