package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark's collector reads: draining
  * the listener bus before counters are read, and the whole-stage
  * codegen compiler's histograms. */
object SparkBridge {

  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)

  /** (compilations so far, their total compile time in seconds). The
    * histogram keeps a bounded reservoir, so the time is count × mean:
    * exact while fewer than ~1000 compilations are held, an estimate
    * past that. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, n * h.getSnapshot.getMean / 1000.0)
  }
}
