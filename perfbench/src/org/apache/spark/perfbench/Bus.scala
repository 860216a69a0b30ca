package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every Spark listener has seen every event posted so far.
  * The listener bus is package-private; the benchmark's tracer needs it
  * drained at each operation boundary so that events are attributed to
  * the operation that caused them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
