package org.apache.spark

/** The two Spark-internal reads the benchmark's tracer needs, kept in
  * one place: draining the listener bus before counters are read, and
  * the number of Janino compilations so far.
  */
object GraftBenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompilations: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
