package org.apache.spark

/** The one Spark-internal the harness needs: wait until every listener
  * event posted so far has been delivered, so counters read after an
  * action include that action's jobs and tasks. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
