package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.TextOps

/** Native text-analysis expressions.
  *
  * The HOF formulations (filter/transform/aggregate over the token
  * array) are semantically right but evaluate an interpreted lambda per
  * token — ~5M+ boxed calls per text query at sf0.1 (≈10 s each). Each
  * expression here computes the SAME integers/hashes (validated against
  * the DuckDB oracle) in one JVM pass per document.
  *
  * Tokenization contract (must stay identical to the declarative form
  * `split(trim(text), '\s+')` and the oracle's
  * `regexp_split_to_array(trim(text), '\s+')`): trim ASCII spaces, split
  * on runs of whitespace. Corpus is ASCII, so String-based ops equal
  * UTF8String byte-wise ops.
  */
object TextExpressions {

  /** Must match Spark `split(trim(text), '\s+')` exactly — Spark split
    * has limit -1, which KEEPS a trailing empty token: an empty string
    * yields [""] (one empty token), and text ending in non-space
    * whitespace (tab/newline — trim strips 0x20 only) yields a trailing
    * "". Java's default split(regex) drops those and would silently
    * diverge from the declarative form and the DuckDB oracle's
    * regexp_split_to_array on such inputs. */
  private[functions] def tokenize(s: String): Array[String] =
    trimSpaces(s).split("\\s+", -1)

  /** Spark `trim` trims 0x20 only (not all Java whitespace). */
  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  /** Hot path for every sketch expression (fingerprint ~60 calls/doc,
    * MinHash bands ~8×#shingles/doc): thread-local digest + manual hex
    * — `getInstance` per call plus `"%02x".format` per byte measured
    * ~10× the digest's own cost across the text/dedup suite. */
  private[graft] def md5Hex(s: String): String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}

/** One-pass token statistics:
  * struct(NTokens, NDistinct, SumTokenLen, MaxTokenLen, StopCount,
  *        CEn, CEs, CDe, CFr) — the integers behind text_tokens /
  * text_quality / text_langid. */
case class TokenStats(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("NTokens", IntegerType, nullable = false),
    StructField("NDistinct", IntegerType, nullable = false),
    StructField("SumTokenLen", LongType, nullable = false),
    StructField("MaxTokenLen", IntegerType, nullable = false),
    StructField("StopCount", IntegerType, nullable = false),
    StructField("CEn", IntegerType, nullable = false),
    StructField("CEs", IntegerType, nullable = false),
    StructField("CDe", IntegerType, nullable = false),
    StructField("CFr", IntegerType, nullable = false)))

  override def prettyName: String = "token_stats"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.tokenStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.tokenStats($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass content hashes:
  * struct(Fingerprint, MinTokenHash, NShingles) — md5 of the sorted
  * distinct token set, min per-token md5, distinct trigram-shingle
  * count. Byte-identical to the declarative/oracle formulation. */
case class TokenFingerprint(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("Fingerprint", StringType, nullable = false),
    StructField("MinTokenHash", StringType, nullable = true),
    StructField("NShingles", IntegerType, nullable = false)))

  override def prettyName: String = "token_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.tokenFingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.tokenFingerprint($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → array of per-chunk md5s from content-defined chunking
  * (stateless Rabin-window boundaries; parameters in
  * graft.ops.TextOps.Chunk*). Duplicates kept, document order. */
case class RollingChunks(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "rolling_chunks"

  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.rollingChunks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ExprKernels.rollingChunks($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
