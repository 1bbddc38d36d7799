package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a spec reads complete stage records. The bus is package-private in
  * Spark; this one-line bridge lives in the tests, not the library.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
