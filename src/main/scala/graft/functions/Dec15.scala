package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, And, AttributeReference, BinaryExpression, EvalMode, Expression, GetStructField, GreaterThanOrEqual, If, IsNull, Literal, Not, Or, Subtract, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Exact scale-15 fixed-point sum of doubles — BIT-IDENTICAL to
  * `CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE)` (the engine's
  * determinism idiom: exact, summation-order-independent, oracle-
  * replayable) on the documented domain, at close to plain-double-sum
  * cost.
  *
  * Why (r19 optimization, guide §1.2 per-task work): Spark sums
  * DECIMAL(38,15) through a BigDecimal-backed buffer — every update
  * pays BigDecimal.add plus buffer (de)serialization — measured 4× a
  * double sum on the PageRank iteration aggregate (2.26 vs 0.56
  * execCpu-s per 1.18M rows, OPTIMIZATION_r19.md). Here each input is
  * converted ONCE through Spark's own Cast path (`Decimal(d)` +
  * `changePrecision(38, 15)` — the identical rounding, so the scaled
  * integer is the identical value), split into base-10^18 limbs, and
  * accumulated in two plain longs with an explicit carry; the final
  * value is rebuilt as the exact BigDecimal and converted with
  * `Decimal.toDouble`, the same conversion `Cast(decimal → double)`
  * performs. Addition of exact integers is associative and
  * commutative, so the result equals the decimal sum bit-for-bit.
  *
  * DOMAIN (documented, deliberately conservative): |Σ x| and every
  * |x| must stay below ~9.2·10²¹ (hi-limb = value/10³ in a signed
  * long). Inside it, results are exactly the decimal sum's; beyond
  * it the decimal path would itself be approaching its precision-38
  * overflow-to-null cliff — callers in that regime (e.g. Breslow's
  * exp-weight masses) keep the DECIMAL(38,15) sum. Out-of-domain
  * inputs fail LOUD at every layer regardless of the session's
  * `spark.sql.ansi.enabled`: a single oversized |x| throws in
  * [[Dec15.split]] (longValueExact), and an accumulated |Σ| crossing
  * the hi-limb range throws in the aggregate itself, whose hi adds
  * are pinned to ANSI evalMode (r19-verdict hardening — the default
  * Catalyst Add wraps silently under non-ANSI sessions). PageRank masses
  * (Σ = |V| by conservation) and the quality filter's ±0.9-per-token
  * logits sit orders of magnitude inside the domain at any corpus
  * size.
  *
  * Null semantics match SUM over a null-yielding CAST: a null input —
  * or an input whose Decimal(38,15) cast overflows to null — is
  * skipped; an empty / all-null group yields NULL.
  */
case class Dec15Split(child: Expression) extends UnaryExpression {

  override def dataType: DataType = Dec15.splitType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dec15_split expects a double argument, got $other")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    Dec15.split(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.Dec15.split($c);
       |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Dec15Split =
    copy(child = newChild)
}

/** (hi, lo) limbs → the exact decimal value as a double — the final
  * step of [[Dec15Sum]]'s evaluate.
  */
case class Dec15Combine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(hi: Any, lo: Any): Any =
    Dec15.combine(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) => s"graft.functions.Dec15.combine($h, $l)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dec15Combine =
    copy(left = newLeft, right = newRight)
}

/** The aggregate half: consumes the PRE-SPLIT struct column (callers
  * project [[Dec15Split]] once below the aggregate — embedding the
  * split inside the update expressions would re-evaluate its
  * BigDecimal conversion once per limb reference, measured SLOWER
  * than the decimal sum it replaces).
  */
case class Dec15Sum(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  private val E18 = Literal(1000000000000000000L)

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  // The hi-limb accumulator is where an out-of-domain group sum would
  // overflow, so its adds are pinned to ANSI evalMode REGARDLESS of
  // the session's spark.sql.ansi.enabled: Math.addExact throws loud
  // instead of wrapping into a silently-wrong finite double (r19
  // verdict — the default-mode Catalyst Add wraps under non-ANSI
  // sessions, which is exactly what Bench/Verify run). Domain callers
  // never pay more than the addExact overflow branch.
  private def addExact(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.ANSI)

  // ONE split per row; hi/lo limb references share it via the struct.
  // lo limbs are in [0, 1e18) by the floor split, so lo + loIn < 2e18
  // never overflows a long; the carry renormalizes back into range.
  override lazy val updateExpressions: Seq[Expression] = {
    val skip = IsNull(child)
    val hiIn = GetStructField(child, 0, Some("hi"))
    val loIn = GetStructField(child, 1, Some("lo"))
    val loSum = Add(lo, loIn)
    val carry = GreaterThanOrEqual(loSum, E18)
    Seq(
      If(skip, hi,
        addExact(addExact(hi, hiIn), If(carry, Literal(1L), Literal(0L)))),
      If(skip, lo, If(carry, Subtract(loSum, E18), loSum)),
      Or(seen, Not(skip)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val loSum = Add(lo.left, lo.right)
    val carry = GreaterThanOrEqual(loSum, E18)
    Seq(
      addExact(addExact(hi.left, hi.right),
        If(carry, Literal(1L), Literal(0L))),
      If(carry, Subtract(loSum, E18), loSum),
      Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen, Dec15Combine(hi, lo), Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): Dec15Sum =
    copy(child = newChild)
}

object Dec15 {

  val splitType: StructType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  private val E18 = java.math.BigInteger.valueOf(1000000000000000000L)

  /** Spark's exact double→Decimal(38,15) cast (same code path:
    * `Decimal(d)` + `changePrecision` with HALF_UP), floor-split into
    * base-10^18 limbs with lo ∈ [0, 1e18). Null on a non-finite input
    * or on cast overflow — the same inputs the NON-ANSI decimal-sum
    * idiom nulls out and SUM skips (an ANSI session's cast would
    * throw instead; Dec15 mirrors the non-ANSI idiom the engine's
    * oracle-checked queries run under). Throws (never silently wrong)
    * outside the |x| < ~9.2e21 hi-limb domain.
    */
  def split(d: Double): InternalRow = {
    // Decimal(NaN / ±Infinity) throws NumberFormatException; the cast
    // idiom this mirrors yields NULL (r19 advisory)
    if (!java.lang.Double.isFinite(d)) return null
    val dec = org.apache.spark.sql.types.Decimal(d)
    if (!dec.changePrecision(38, 15)) return null
    var hi = 0L
    var lo = 0L
    if (java.lang.Math.abs(d) < 9.0e2) {
      // compact fast path: |unscaled| = |d|*1e15 < 9e17 < 10^18 digits,
      // so Decimal holds it in its long slot — no BigInteger churn
      val u = dec.toUnscaledLong
      hi = java.lang.Math.floorDiv(u, 1000000000000000000L)
      lo = java.lang.Math.floorMod(u, 1000000000000000000L)
    } else {
      val qr = dec.toJavaBigDecimal.unscaledValue().divideAndRemainder(E18)
      hi = qr(0).longValueExact() // throws on |x| >= ~9.2e21: outside
      lo = qr(1).longValueExact() // the documented dec15_sum domain
      if (lo < 0L) { hi -= 1L; lo += 1000000000000000000L }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](hi, lo))
  }

  /** Exact reconstruction + the same Decimal→Double conversion
    * `Cast(decimal as double)` performs.
    */
  def combine(hi: Long, lo: Long): Double = {
    val u = java.math.BigInteger.valueOf(hi).multiply(E18)
      .add(java.math.BigInteger.valueOf(lo))
    new java.math.BigDecimal(u, 15).doubleValue()
  }

  /** The (hi, lo) limbs of an exact scale-15 sum, for RDD kernels that
    * sum outside an aggregate: `+` is [[Dec15Sum]]'s merge (same carry,
    * same loud hi-limb overflow) and `value` its evaluate, so a sum of
    * [[Limbs.of]] values is bit-identical to the aggregate's.
    */
  final case class Limbs(hi: Long, lo: Long) {
    def +(o: Limbs): Limbs = {
      val l = lo + o.lo
      if (l >= 1000000000000000000L)
        Limbs(java.lang.Math.addExact(java.lang.Math.addExact(hi, o.hi), 1L),
          l - 1000000000000000000L)
      else Limbs(java.lang.Math.addExact(hi, o.hi), l)
    }
    def value: Double = combine(hi, lo)
  }

  object Limbs {
    val zero: Limbs = Limbs(0L, 0L)

    /** [[split]] as limbs; null where the aggregate skips the input. */
    def of(d: Double): Limbs = {
      val r = split(d)
      if (r == null) null else Limbs(r.getLong(0), r.getLong(1))
    }
  }

  /** The per-row split as a Column — project this ONCE below the
    * aggregate, then feed [[dec15_sum_split]].
    */
  def dec15_split(c: Column): Column =
    bridge.toColumn(Dec15Split(bridge.toExpression(c)))

  /** `CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE)`, exactly, over a
    * pre-split struct column ([[dec15_split]]).
    */
  def dec15_sum_split(s: Column): Column =
    bridge.toColumn(Dec15Sum(bridge.toExpression(s)).toAggregateExpression())

  /** Convenience one-arg form. NOTE: embeds the split inside the
    * aggregate's update expressions (re-evaluated per limb reference)
    * — fine for small groups; hot paths project [[dec15_split]] first.
    */
  def dec15_sum(c: Column): Column =
    dec15_sum_split(dec15_split(c))
}
