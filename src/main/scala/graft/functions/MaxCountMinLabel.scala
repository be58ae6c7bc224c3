package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, If,
  LessThan, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * The label of the `(count, label)` row with the highest count, ties to the
 * lowest label: label propagation's winner, as a declarative aggregate.
 *
 * Why not `max(struct(count, -label))`: a struct buffer is not fixed-width,
 * so Spark plans that as a `SortAggregate`, which sorts every superstep,
 * generates an ordering, a sort-prefix projection and four mutable
 * projections, and ends the superstep's pipeline. This buffer is two
 * `Long`s, (count, label), so Spark plans a `HashAggregate` inside the
 * generated pipeline. Labels are compared, never negated, so every `Long`
 * is a valid label. An empty group (which a grouped aggregation never
 * evaluates) gives `Long.MaxValue`; a row with a NULL count or label is
 * skipped.
 */
case class MaxCountMinLabel(count: Expression, label: Expression)
  extends DeclarativeAggregate with BinaryLike[Expression] {

  override def left: Expression = count
  override def right: Expression = label
  override def checkInputDataTypes(): TypeCheckResult =
    if (count.dataType == LongType && label.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two BIGINT inputs, got " +
      s"${count.dataType.catalogString} and ${label.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "max_count_min_label"

  private lazy val bestCount = AttributeReference("bestCount", LongType, nullable = false)()
  private lazy val bestLabel = AttributeReference("bestLabel", LongType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(bestCount, bestLabel)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(Long.MinValue), Literal(Long.MaxValue))

  /** The buffer after offering it `(c, l)`: taken on a higher count, or on
    * the same count with a lower label. */
  private def offer(c: Expression, l: Expression, bc: Expression, bl: Expression): Seq[Expression] = {
    val take = Or(GreaterThan(c, bc), And(EqualTo(c, bc), LessThan(l, bl)))
    Seq(If(take, c, bc), If(take, l, bl))
  }
  override lazy val updateExpressions: Seq[Expression] = offer(count, label, bestCount, bestLabel)
  override lazy val mergeExpressions: Seq[Expression] =
    offer(bestCount.right, bestLabel.right, bestCount.left, bestLabel.left)
  override lazy val evaluateExpression: Expression = bestLabel

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MaxCountMinLabel =
    copy(count = newLeft, label = newRight)
}

object MaxCountMinLabel {
  import org.apache.spark.sql.graftbridge.Bridge
  /** Column-API entry point: `agg(MaxCountMinLabel.of($"cnt", $"label"))`. */
  def of(count: Column, label: Column): Column =
    Bridge.column(MaxCountMinLabel(Bridge.expression(count), Bridge.expression(label)).toAggregateExpression())
}
