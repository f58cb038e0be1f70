package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* Native perceptual-hash expressions for the multimodal near-dup
  * family (graft.ops.MultimodalOps) — text → the 4 band ints of the
  * aHash / pHash-DCT / audio-energy fingerprint byte twins.
  *
  * These retire the round-10 let-binding scaffolding: the hashes were
  * first written as higher-order-function pipelines, which evaluate
  * INTERPRETED and had to bind every stage as a lambda variable just
  * to stop CollapseProject from re-inlining the O(len) sample stage
  * into all 64 bit tests (measured 89.3 s at sf0.1 before the
  * binding, 1.6 s after). The interpreted 4096-multiply DCT remained
  * the multimodal family's worst decade exponent (α 0.51 vs aHash's
  * 0.31) — the house rule says scalar per-row work rides a native
  * codegen'd Expression, and this is that route: one JVM loop per row
  * via the shared [[ExprKernels]] static kernels, real `doGenCode`,
  * so the carrying Project stays inside whole-stage codegen. Values
  * are bit-identical to the HOF forms (the SQL semantics each kernel
  * reproduces are documented on the kernel; the DuckDB mirrors are
  * unchanged, so the oracle gate proves the equivalence every round).
  * `graft.GraftExtensions` binds their SQL names.
  */

/** Common shape of the three band-hash expressions: string → the 4
  * band ints of a 64-bit perceptual hash, one static-kernel call per
  * row. */
sealed trait BandHashExpression extends UnaryExpression {
  /** Unqualified [[ExprKernels]] method name — also the codegen call. */
  def kernel: String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.$kernel($a);")
}

/** text → 4 aHash bands ([[ExprKernels.ahashBands]]). */
case class AhashBands(child: Expression) extends BandHashExpression {
  override def kernel: String = "ahashBands"
  override def prettyName: String = "ahash_bands"
  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.ahashBands(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → 4 pHash-DCT bands ([[ExprKernels.phashBands]]). */
case class PhashBands(child: Expression) extends BandHashExpression {
  override def kernel: String = "phashBands"
  override def prettyName: String = "phash_bands"
  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.phashBands(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → 4 audio energy-delta fingerprint bands
  * ([[ExprKernels.audioFpBands]]). */
case class AudioFpBands(child: Expression) extends BandHashExpression {
  override def kernel: String = "audioFpBands"
  override def prettyName: String = "audiofp_bands"
  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.audioFpBands(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
