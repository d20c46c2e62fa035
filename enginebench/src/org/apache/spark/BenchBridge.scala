package org.apache.spark

/** The two `private[spark]` reads the tracer needs: draining the listener
  * bus (so a span's job and stage events have arrived before it is closed)
  * and the process-wide codegen compile counter. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
