package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graftbridge.Bridge

/** Spark's codegen class cache, as the compile-count tests read it. */
object CodegenCache {
  /** Classes compiled for generated code so far in this JVM. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The classes compiled while `body` runs from an empty cache. */
  def compiledFromEmpty(body: => Unit): Long = {
    Bridge.invalidateCodegenCache()
    val before = compiles
    body
    compiles - before
  }
}
