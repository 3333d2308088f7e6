package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark reads; both are `private[spark]`,
  * so the accessors live in a package under `org.apache.spark`. */
object Internals {

  /** Blocks until every event posted so far has reached every listener.
    * Listener totals read without this miss the task-end events still
    * queued on the bus, which then land on the next call. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Janino compilations of generated code so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
}
