package org.apache.spark

/** The one engine-internal call the tracer needs: wait until every queued
  * listener event has been delivered, so that a phase's jobs, stages, query
  * executions and stream progress are all counted before the next phase
  * starts.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
