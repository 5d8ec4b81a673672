package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Right-continuous step-function evaluation s(max tsᵢ <= at) — `<`
  * when `strict` — over a DRIVER-BOUNDED sorted knot table, as a
  * native codegen expression: O(log |knots|) binary search per row,
  * fused into the consuming stage. No shuffle, no join, no row
  * explosion — the small-side fast path for step lookups (IPCW
  * censoring weights G(t⁻), piecewise-constant interpolation) whose
  * knot tables fit comfortably in the plan (the caller bounds the
  * size; [[graft.eval.KaplanMeier.lookup]] caps it and falls back to
  * a distributed [[graft.core.CarryScan]] beyond the cap).
  *
  * Semantics match the distributed formulation exactly: value 1.0
  * before the first knot AND for a null `at` (the no-match row of the
  * SQL left join). `ts` must be strictly increasing (distinct curve
  * times by construction).
  */
case class StepLookup(child: Expression, ts: Array[Double],
                      ss: Array[Double], strict: Boolean)
    extends UnaryExpression {
  require(ts.length == ss.length, "knot arrays must align")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  // null handling is part of the semantics (null → 1.0), so eval is
  // overridden directly instead of the null-propagating nullSafeEval
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 1.0
    else {
      val at = v.asInstanceOf[Double]
      var idx = java.util.Arrays.binarySearch(ts, at)
      if (idx >= 0) { if (strict) idx -= 1 }
      else idx = -idx - 2
      if (idx >= 0) ss(idx) else 1.0
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tsRef = ctx.addReferenceObj("stepTs", ts, "double[]")
    val ssRef = ctx.addReferenceObj("stepSs", ss, "double[]")
    val childGen = child.genCode(ctx)
    val idx = ctx.freshName("stepIdx")
    val strictDec = if (strict) s"if ($idx >= 0) { $idx -= 1; }" else ""
    ev.copy(code = code"""
       |${childGen.code}
       |boolean ${ev.isNull} = false;
       |double ${ev.value} = 1.0;
       |if (!${childGen.isNull}) {
       |  int $idx = java.util.Arrays.binarySearch($tsRef, ${childGen.value});
       |  if ($idx >= 0) { $strictDec } else { $idx = -$idx - 2; }
       |  if ($idx >= 0) { ${ev.value} = $ssRef[$idx]; }
       |}
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): StepLookup =
    copy(child = newChild)
}

object StepLookup {
  def step_lookup(at: Column, ts: Array[Double], ss: Array[Double],
                  strict: Boolean): Column =
    bridge.toColumn(StepLookup(bridge.toExpression(at), ts, ss, strict))
}
