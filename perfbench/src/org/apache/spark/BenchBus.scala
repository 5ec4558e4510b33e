package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered (the listener bus is package-private to Spark).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
