package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity operators.
  *
  * The DataFrame higher-order functions (`transform`/`aggregate`/
  * `zip_with`) evaluate their lambda once per ELEMENT through the
  * interpreted expression path — for 50K vectors × 64 dims × O(n)
  * pairs that is tens of millions of boxed evaluations and dominated
  * the first benchmark (120 s for the LSH join). These expressions do
  * the same arithmetic as one tight primitive loop per ROW, inside
  * whole-stage codegen where possible. Same preference order the
  * design calls for: compose built-ins → custom Expression → custom
  * operator → mapPartitions.
  */
object VectorExpressions {

  /** Exactly Spark's `round(x)`-then-`cast(bigint)` semantics
    * (HALF_UP on the shortest decimal representation — matches the
    * DuckDB oracle on these values; see SimilarityOps scaladoc). */
  def roundHalfUp(d: Double): Long =
    JBigDecimal.valueOf(d).setScale(0, RoundingMode.HALF_UP).longValue()
}

/** Exact integer dot product of two array<bigint> columns; codegen'd
  * as a primitive loop (no per-element lambda dispatch). */
case class LongDotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) { $s += $a.getLong($i) * $b.getLong($i); }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** array<float> → array<bigint> of round(x·10⁴) — the exact
  * quantization the oracle applies, one JVM loop per row via the
  * shared [[ExprKernels.quantize]] kernel; codegen emits a static call
  * to the same kernel so the containing operator stays inside
  * whole-stage codegen (a CodegenFallback here pushed the whole
  * Project out of WholeStageCodegen). */
case class QuantizeVector(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_vec"

  override protected def nullSafeEval(a: Any): Any =
    ExprKernels.quantize(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.quantize($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<bigint> of normalized dimension values → interleaved Morton
  * (Z-order) code, usable as a multi-dimensional clustering key
  * (`repartitionByRange` + `sortWithinPartitions` on it). One
  * static-kernel call per row ([[ExprKernels.zorder]]), real codegen
  * so the carrying Project stays in WholeStageCodegen.
  *
  * Kept with no engine caller: `zorder_long` is part of the registered
  * native-function surface README documents. */
case class ZOrderLong(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_long"

  override protected def nullSafeEval(a: Any): Any =
    ExprKernels.zorder(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.zorder($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
