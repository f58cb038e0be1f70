package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The one way a graft native function reaches a session: the
  * standard extensions mechanism.
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // GraftSession.builder() installs it on every session it builds:
  *   builder.withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Spark copies the injected functions into each session's function
  * registry when the session state is built, so they are callable
  * from SQL text and `expr()` before any query is analyzed. A
  * `newSession()` sibling builds its registry from the same
  * extensions, and a `foreachBatch` clone copies its parent's. No
  * caller registers anything, so no registry is ever mutated while
  * another thread analyzes a plan. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("long_dot", "exact integer dot product of two bigint arrays",
      es => LongDotProduct(es(0), es(1))),
    ("quantize_vec", "float array -> round(x*10^4) bigint array",
      es => QuantizeVector(es.head)),
    ("token_stats", "one-pass token statistics struct over text",
      es => TokenStats(es.head)),
    ("token_fingerprint", "md5 set-fingerprint / min-hash struct over text",
      es => TokenFingerprint(es.head)),
    ("token_shingles", "distinct n-token shingles of text (text[, n]); n defaults to 3",
      es => TokenShingles(es.head, es.lift(1).fold(3)(shingleWindow))),
    ("minhash_bands", "MinHash-8 LSH band values of a shingle array",
      es => MinhashBands(es.head)),
    ("simhash_bits", "8-bit SimHash bit string of text",
      es => SimhashBits(es.head)),
    ("zorder_long", "Morton (Z-order) interleave of normalized bigint dims",
      es => ZOrderLong(es.head)),
    ("rolling_chunks", "md5s of content-defined (rolling-hash) chunks of text",
      es => RollingChunks(es.head)),
    ("misra_gries", "mergeable Misra-Gries frequent-items summary (col, k)",
      es => MisraGriesTopK(es(0), SketchAggregates.intLit(es(1), "misra_gries(col, k)"))),
    ("bloom_build", "Bloom-filter bitset over bigint keys (col, log2Bits)",
      es => BloomBuildAgg(es(0), SketchAggregates.intLit(es(1), "bloom_build(col, log2Bits)"))),
    ("bloom_contains", "membership probe against a bloom_build bitset",
      es => BloomMightContain(es(0), es(1))),
    ("kmv_kmin", "k smallest distinct bigints — KMV bottom-k sketch (col, k)",
      es => KMinValues(es(0), SketchAggregates.intLit(es(1), "kmv_kmin(col, k)"))),
    ("topk_edges", "k best (id, score) pairs of a group, best-first (id, score, k)",
      es => TopKEdges(es(0), es(1), SketchAggregates.intLit(es(2), "topk_edges(id, score, k)"))),
    ("label_argmax", "most frequent label, ties to the lowest (LPA vote)",
      es => LabelArgmax(es.head)),
    ("ahash_bands", "4 band ints of the 64-bit average perceptual hash of text",
      es => AhashBands(es.head)),
    ("phash_bands", "4 band ints of the 64-bit DCT perceptual hash of text",
      es => PhashBands(es.head)),
    ("audiofp_bands", "4 band ints of the energy-delta audio fingerprint of text",
      es => AudioFpBands(es.head)))

  /** The shingle window must be known at analysis time: it sizes the
    * expression, not a row. */
  private def shingleWindow(e: Expression): Int =
    if (e.foldable) e.eval().asInstanceOf[Number].intValue()
    else throw new IllegalArgumentException(
      s"token_shingles window must be a literal, got $e")

  /** Every function name this installer injects (ExtensionsSpec checks
    * each resolves on every kind of session). */
  private[graft] def functionNames: Seq[String] = functions.map(_._1)

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}
