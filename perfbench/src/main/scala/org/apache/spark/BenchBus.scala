package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * listener bus is private to Spark, so this one accessor lives in Spark's
  * package. The benchmark calls it before it reads listener counters.
  */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
