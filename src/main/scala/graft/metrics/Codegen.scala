package graft.metrics

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Janino compiles of Spark's generated classes in this JVM, counted
  * where Spark counts them: every miss of the generated-class cache
  * compiles once, records one `CodegenMetrics.METRIC_COMPILATION_TIME`
  * sample and adds its duration to `CodeGenerator.compileTime`. Both
  * are JVM-wide and cumulative, so a caller diffs two readings; the
  * counts are exact, the time is wall time inside the compiler. While
  * the cache has evicted nothing, the compiles since JVM start equal
  * the distinct generated classes (the working set) so far. */
object Codegen {
  final case class Compiles(count: Long, nanos: Long) {
    def -(before: Compiles): Compiles =
      Compiles(count - before.count, nanos - before.nanos)
    def ms: Double = nanos / 1e6
  }

  def compiles(): Compiles = Compiles(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
