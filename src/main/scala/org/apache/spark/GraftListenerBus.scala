package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a reader of listener records ([[graft.Profile]], the specs) sees them
  * complete. The bus is package-private in Spark; this is the one bridge.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
