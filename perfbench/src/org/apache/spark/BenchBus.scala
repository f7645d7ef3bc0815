package org.apache.spark

/** Waits until every listener has seen every event posted so far, so the
  * trace counts are complete when the run reports them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
