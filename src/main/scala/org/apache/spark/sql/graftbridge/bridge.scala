package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/**
 * Forwards to `private[sql]`/`private[spark]` members.
 *
 * Spark 4 made the Column <-> Expression converters (`classic.ExpressionUtils`)
 * `private[sql]`, so third-party expression libraries use the standard
 * extension technique of a tiny adapter object inside the `org.apache.spark`
 * package scope. The live listener bus, the context's RDD cleanup and the
 * internal-row DataFrame constructor are `private[spark]`/`private[sql]`
 * the same way. This file contains ONLY these forwards — the two
 * converters, the listener-bus drain, the RDD cleanup and the internal-row
 * constructor; everything else of ours lives under `graft.*`.
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

  /** A DataFrame over rows already in Spark's internal format: no object
    * encoder, so no generated serializer. `rows` must match `schema`. With
    * a row count the planner sizes it as Spark sizes a counted relation
    * (rows times its per-row estimate); without one, as unknown. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
                rowCount: Option[BigInt] = None): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val stats = rowCount.map(n => Statistics(EstimationUtils.getSizePerRow(output) * n, Some(n)))
    classic.Dataset.ofRows(session, LogicalRDD(output, rows)(session, stats))
  }
}
