package org.apache.spark.sql.graftshim

import org.apache.spark.metrics.source.CodegenMetrics

/** Number of classes this JVM has compiled from generated code so far
  * (`CodegenMetrics` is `private[spark]`). A code-cache hit compiles
  * nothing and does not count. */
object CodegenCount {
  def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
