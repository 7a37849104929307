package org.apache.spark

/** The listener bus delivers events asynchronously; the harness must read
  * its listener counters only after every event posted so far has been
  * delivered. The bus is package-private to Spark, hence this bridge. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
