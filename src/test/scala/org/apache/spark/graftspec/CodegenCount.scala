package org.apache.spark.graftspec

import org.apache.spark.metrics.source.CodegenMetrics

/** `CodegenMetrics` is `private[spark]`; a spec that counts generated-class
  * compiles reads its compile-time histogram, which records one sample per
  * class Janino compiles (cache hits record none). */
object CodegenCount {
  def apply(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
