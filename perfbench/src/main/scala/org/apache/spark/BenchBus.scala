package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs only to wait
  * until every event posted so far has been delivered, so that a span's
  * jobs are all counted before the span is read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
