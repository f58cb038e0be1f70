package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* Native shingling + MinHash expressions for the dedup pipeline.
  *
  * The declarative forms (`transform(sequence(1, size-2), i ->
  * concat(element_at(...)))` and `array_min(transform(sh, md5(...)))`)
  * are interpreted per element — at sf0.1 that is ~15M `element_at`
  * calls for shingling and ~120M md5 lambda dispatches for 8 MinHash
  * functions, and the whole thing landed in ONE task (334 s) when the
  * planner put it on a join build side. These compute identical values
  * (validated against the DuckDB oracle) one document at a time in
  * plain JVM loops. `graft.GraftExtensions` binds their SQL names.
  */

/** text → 8-char SimHash bit string, one md5 PER DISTINCT TOKEN with
  * all 8 hex positions read from that single digest — replaces the 8
  * interpreted `aggregate(transform(...))` HOF lambdas that re-hashed
  * every token once per position (8× the md5 work, per-element
  * interpreted dispatch). Bit p is set iff the mean of hex digit p over
  * distinct tokens is ≥ 7.5, computed in integers as
  * 2·sum ≥ 15·count — byte-identical to the declarative form and the
  * DuckDB oracle (ExtSql.dedupSimhash). */
case class SimhashBits(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash_bits"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.simhashBits(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.simhashBits($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → distinct n-gram token shingles (first-occurrence order,
  * exactly like `array_distinct(transform(...))` over
  * `split(trim(text), '\s+')`). The window width is a PLAN constant
  * (SQL: `token_shingles(text)` = 3, `token_shingles(text, n)`), baked
  * into the generated code — dedup stays at 3, decontamination runs
  * wider (CurateOps.DecontaminationShingleN). */
case class TokenShingles(child: Expression, n: Int = 3)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"$prettyName window must be >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.tokenShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.tokenShingles($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** shingles → the 4 LSH band values: band b = md5(mh(2b-1) || mh(2b))
  * where mh(j) = min over shingles of md5("j|" + shingle). Identical
  * strings to the declarative/oracle formulation. */
case class MinhashBands(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.minhashBands(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.minhashBands($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
