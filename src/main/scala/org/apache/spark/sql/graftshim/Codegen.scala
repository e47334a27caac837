package org.apache.spark.sql
package graftshim

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated-code compile counter. Spark's `CodegenMetrics` is
  * private[spark]; every Janino compile (a miss of the generated-class
  * cache) records one compilation time, so the histogram's count is the
  * number of classes this JVM has compiled.
  */
object Codegen {
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
