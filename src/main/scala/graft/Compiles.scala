package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Janino compiles of Spark's generated code, counted JVM-wide. A class
  * found in the codegen cache costs nothing and counts nothing, so a
  * delta over a call is the number of classes that call had to compile:
  * 0 once a plan shape has run in the session. The count is the sample
  * count of `CodegenMetrics.METRIC_COMPILATION_TIME`; the milliseconds
  * come from `CodeGenerator.compileTime`, the exact sum that histogram's
  * sampling reservoir cannot give. Counts are deterministic for a given
  * session history and safe to pin in tests; the times are not.
  */
final case class Compiles(count: Long, ms: Double) {
  def -(o: Compiles): Compiles = Compiles(count - o.count, ms - o.ms)
}

object Compiles {
  def now(): Compiles = Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime / 1e6)
}
