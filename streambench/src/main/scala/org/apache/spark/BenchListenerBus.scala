package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced run reads complete listener records. The bus is package-private
  * in Spark; this one-line bridge lives in the benchmark, not the library.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
