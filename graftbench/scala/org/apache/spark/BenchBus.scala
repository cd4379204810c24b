package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * trace read after a run sees all of the run's jobs.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
