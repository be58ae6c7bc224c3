package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.NonFateSharingCache

/**
 * Forwards to `private[sql]`/`private[spark]` members.
 *
 * Spark 4 made the Column <-> Expression converters (`classic.ExpressionUtils`)
 * `private[sql]`, so third-party expression libraries use the standard
 * extension technique of a tiny adapter object inside the `org.apache.spark`
 * package scope. The live listener bus, the context's RDD cleanup, the
 * internal-row DataFrame constructor and the codegen class cache are
 * `private[spark]`/`private[sql]`/private the same way. This file contains
 * ONLY these forwards — the two converters, the listener-bus drain, the RDD
 * cleanup, the internal-row constructors (with the layout one declares) and
 * the codegen cache's invalidation and size; everything else of ours lives under `graft.*`.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener, so
    * counters a listener keeps can be read without sleeping. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Frees an RDD's blocks the way the context cleaner frees an
    * unreachable one: without the warning `RDD.unpersist` gives for a local
    * checkpoint, which cannot be recomputed — the caller reads it no more. */
  def free(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `CodeGenerator`'s cache of compiled classes (a private member). */
  private def codegenCache: NonFateSharingCache[_, _] = {
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
  }

  /** Empties the codegen class cache, so the next generated code of every
    * plan is compiled afresh: what a workload compiles from then on is its
    * working set of classes. */
  def invalidateCodegenCache(): Unit = codegenCache.invalidateAll()

  /** The number of compiled classes the codegen cache holds (at most
    * `spark.sql.codegen.cache.maxEntries`). */
  def codegenCacheEntries: Long = codegenCache.size()

  /** A DataFrame over a few rows on the driver, already in Spark's internal
    * format: a local relation built with no object encoder, so no generated
    * serializer. `rows` must match `schema`. */
  def localFrame(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A DataFrame over rows already in Spark's internal format: no object
    * encoder, so no generated serializer. `rows` must match `schema`. With
    * a row count the planner sizes it as Spark sizes a counted relation
    * (rows times its per-row estimate); without one, as unknown. With
    * `hashedBy` columns the planner takes the rows as hash-partitioned by
    * them at `rows`' partition count, as an exchange would leave them:
    * `rows` must be laid out so, or joins over them go wrong. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
                rowCount: Option[BigInt] = None, hashedBy: Seq[String] = Nil): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val stats = rowCount.map(n => Statistics(EstimationUtils.getSizePerRow(output) * n, Some(n)))
    val keys = hashedBy.map(k => output.find(_.name == k).get)
    val partitioning = if (keys.isEmpty) UnknownPartitioning(0) else HashPartitioning(keys, rows.getNumPartitions)
    classic.Dataset.ofRows(session, LogicalRDD(output, rows, partitioning)(session, stats))
  }
}
