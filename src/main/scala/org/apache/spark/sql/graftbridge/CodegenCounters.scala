package org.apache.spark.sql.graftbridge

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Process-wide Janino counters: every compile of a generated class
  * (whole-stage pipelines, projections, orderings — driver and executor
  * side) counts once, and a class served from Spark's codegen cache
  * not at all. Read before and after a query to see what it compiled.
  */
object CodegenCounters {
  /** Generated classes compiled so far in this JVM. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Time spent compiling them so far, in milliseconds. */
  def compileMs: Double = CodeGenerator.compileTime / 1e6
}
