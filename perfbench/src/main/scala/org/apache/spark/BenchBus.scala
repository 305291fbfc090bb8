package org.apache.spark

/** Lets the benchmark wait until its SparkListener has seen every event
  * posted so far (`listenerBus` is private to the spark package). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
