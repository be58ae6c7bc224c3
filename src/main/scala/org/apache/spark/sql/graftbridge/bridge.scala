package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Forwards to `private[sql]`/`private[spark]` members.
 *
 * Spark 4 made the Column <-> Expression converters (`classic.ExpressionUtils`)
 * `private[sql]`, so third-party expression libraries use the standard
 * extension technique of a tiny adapter object inside the `org.apache.spark`
 * package scope. The live listener bus is `private[spark]` the same way. This
 * file contains ONLY these three one-line forwards — the two converters and
 * the listener-bus drain; everything else of ours lives under `graft.*`.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener, so
    * counters a listener keeps can be read without sleeping. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
