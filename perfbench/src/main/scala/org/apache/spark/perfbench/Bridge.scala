package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark reads: the listener bus (so every
  * event of a finished call has been delivered before its counters are
  * read) and the codegen histograms. */
object Bridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (compilations so far, their summed milliseconds). The histogram keeps
    * a sample, so the sum is count × sample mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
