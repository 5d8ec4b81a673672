package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, If, ImplicitCastInputTypes, IsNull, Literal, Multiply, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Product aggregate, matching DuckDB's `product()` — registered as a
  * SQL function by [[graft.SqlViews.registerFunctions]] and usable as
  * a window aggregate for running products (the O(1)-per-row
  * replacement for the `aggregate(collect_list(factor) OVER w, 1.0,
  * _*_)` idiom, which copies an O(|frame|) buffer per row).
  *
  * As a window aggregate over a running frame (UNBOUNDED PRECEDING →
  * CURRENT ROW) Spark's AggregateProcessor updates the buffer row by
  * row IN FRAME ORDER, so the value is the exact left-associated
  * product Π f_1 · f_2 · … · f_k — no exp/log detour, no
  * reassociation. Nulls are skipped like built-in aggregates. (The KM
  * estimator itself now uses a [[graft.core.CarryScan]], which
  * subsumes the single-partition window this accelerated.)
  */
case class ProductAgg(child: Expression)
    extends DeclarativeAggregate with ImplicitCastInputTypes
    with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  // NULL for empty groups / all-null input, like DuckDB's product()
  // and Spark's built-in aggregates (sum/avg/min/max)
  override def nullable: Boolean = true
  // analyzer-inserted cast: SQL numeric literals (DECIMAL) and int
  // columns coerce to the double buffer instead of failing at runtime
  override def inputTypes: Seq[bridge.SqlAbstractDataType] = Seq(DoubleType)

  private lazy val product = AttributeReference("product", DoubleType, nullable = false)()
  private lazy val seen =
    AttributeReference("seen", org.apache.spark.sql.types.BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(product, seen)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(1.0), Literal(false))
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), product, Multiply(product, child)),
    Or(seen, org.apache.spark.sql.catalyst.expressions.Not(IsNull(child))))
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Multiply(product.left, product.right),
    Or(seen.left, seen.right))
  override lazy val evaluateExpression: Expression =
    If(seen, product, Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): ProductAgg =
    copy(child = newChild)
}

object ProductAgg {
  /** `product(c)` as an aggregate/window Column (c cast to double by
    * the caller if needed).
    */
  def product(c: Column): Column =
    bridge.toColumn(ProductAgg(bridge.toExpression(c)).toAggregateExpression())
}
