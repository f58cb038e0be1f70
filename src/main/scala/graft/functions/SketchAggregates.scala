package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable one-pass sketch AGGREGATES — the third extension tier
  * after scalar expressions (ExprKernels) and window/plan rules:
  * `TypedImperativeAggregate`s with an arbitrary Java object as the
  * aggregation buffer, executed by `ObjectHashAggregateExec` with
  * partial aggregation per input partition and a binary-serialized
  * buffer across the exchange. The driver never sees raw rows — only
  * O(k) summaries — which is what makes these the 100 TB shape for
  * frequency and membership questions over arbitrary key domains.
  *
  * [[MisraGriesTopK]]: the Misra-Gries frequent-items summary
  * (public algorithm; mergeable form per Agarwal et al., "Mergeable
  * Summaries", PODS'12). Capacity k; on overflow the (k+1)-th
  * largest count is subtracted from every counter and non-positive
  * entries drop. Total decrement across any update/merge order is
  * ≤ N/(k+1), giving the two guarantees the heavy-hitters operator
  * builds on: `true - N/(k+1) ≤ est ≤ true`, and every item with
  * true count > N/(k+1) is present in the summary — regardless of
  * partitioning or merge order.
  *
  * [[BloomBuildAgg]] / [[BloomMightContain]]: a from-scratch Bloom
  * filter over BIGINT keys (splitmix64 double hashing, power-of-two
  * bit count, OR-merge). Build is an aggregate over the small/dim
  * side; membership is a scalar codegen'd expression applied to the
  * fact side BEFORE its shuffle — the classic semi-join pruning
  * pattern where only ~selectivity·N rows ever reach the exchange,
  * and the exact join afterwards removes the false positives.
  */
object SketchAggregates {

  /** Session default for
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` —
    * every session builder in this engine sets it. The TypedImperative aggregates in
    * this file execute as ObjectHashAggregate, and Spark's DEFAULT
    * threshold (128 in-memory groups) makes every realistic
    * aggregation abandon the hash map and SORT its whole per-task
    * input instead — for the routed-kNN edge stage that sort was
    * more than half the wall (measured round 14 at the 20M probe:
    * 25.7 → 12.1 s per 10⁹ candidates once the hash path could hold
    * the ~1.1k per-task query groups). 65536 groups bounds the map
    * at tens of MB for the largest buffers here (kmv_kmin: k longs;
    * topk_edges: k pairs; misra_gries: k counters — bloom's MB-class
    * buffers aggregate over ~1 group, so the threshold never binds
    * there) while keeping the sort fallback for genuinely
    * hash-hostile group counts.
    *
    * The conf is SESSION-WIDE, so it also governs the BUILTIN
    * object-hash aggregates (`collect_list`/`collect_set` are
    * TypedImperative too): the largest in this engine are the
    * per-vec_id 64-element struct lists in SimilarityOps' PQ build
    * and GraphOps' per-order basket lists — ~0.5-2 KB per group, so a
    * full 65536-group map is ~35-130 MB per task, inside a normal
    * 2-4 GB executor-core budget but NOT "tens of MB"; a conf this
    * size must be weighed against executor memory if
    * [[ObjectHashFallbackThreshold]] is raised further. In practice every
    * such aggregation here keys on a pruned substrate whose per-task
    * group count AQE keeps far below the cap. */
  val ObjectHashFallbackThreshold = "65536"

  private[graft] def intLit(e: Expression, usage: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$usage requires a literal int parameter, got $other")
  }

  /** splitmix64 finalizer — a public-domain 64-bit mixer; two
    * independent streams via distinct pre-xor constants give the
    * (h1 + i·h2) double-hashing family. */
  private[functions] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private[functions] val NumHashes = 4
}

/** Misra-Gries top-k frequent-items summary over a string column.
  * Returns `array<struct<item:string, est:bigint>>` sorted by
  * estimate descending then item — estimates depend on merge order
  * (like any MG summary) but the membership guarantee above does
  * not, which is what [[graft.ops.RelationalOps.heavyHitters]]'s
  * exact-confirm second pass relies on for oracle-identical output. */
case class MisraGriesTopK(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k >= 1, s"misra_gries capacity must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"misra_gries requires a string column, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // UTF8String buffers are reused by the scan — materialize a key
      val s = v.asInstanceOf[UTF8String].toString
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1L)
        case None =>
          buf.update(s, 1L)
          if (buf.size > k) compact(buf)
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (s, c) =>
      buf.update(s, buf.getOrElse(s, 0L) + c)
    }
    if (buf.size > k) compact(buf)
    buf
  }

  /** Subtract the (k+1)-th largest count from every entry and drop
    * non-positives — the mergeable-summaries compaction. Leaves at
    * most k entries (everything at or below the pivot drops). */
  private def compact(buf: mutable.HashMap[String, Long]): Unit = {
    val counts = buf.values.toArray
    java.util.Arrays.sort(counts)
    val q = counts(counts.length - k - 1) // (k+1)-th largest
    buf.filterInPlace((_, c) => c > q)
    buf.mapValuesInPlace((_, c) => c - q)
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (s, c) => (-c, s) }
    new GenericArrayData(sorted.map { case (s, c) =>
      InternalRow(UTF8String.fromString(s), c)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, c) =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.update(new String(b, StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesTopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "misra_gries"
}

/** KMV (k-minimum-values) bottom-k sketch: keeps the k SMALLEST
  * DISTINCT values of a BIGINT column in O(k) state per partition —
  * the mergeable core of both deterministic uniform sampling (hash a
  * key, keep the bottom k — every executor proposes its local bottom
  * k, merges are set-union-then-trim, any merge order yields the
  * same set) and the classic KMV distinct-count estimator
  * (Bar-Yossef et al. 2002: with U_k = kth smallest hash mapped to
  * (0,1), E[distinct] ≈ (k−1)/U_k, σ ≈ 1/√(k−2)). Returns the kept
  * values ascending — element k (if present) IS the kth order
  * statistic. Unlike `orderBy(h).limit(k)` on DISTINCT keys (whose
  * distinct pass shuffles every distinct key), the whole sketch
  * crosses the exchange as ≤ k longs per partial. */
case class KMinValues(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 1, s"kmv_kmin capacity must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_kmin requires a bigint column, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def insert(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit =
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last()) { if (buf.add(v)) { buf.pollLast(); () } }

  override def update(
      buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(
      buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KMinValues =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KMinValues =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "kmv_kmin"
}

/** Bloom-filter BUILD aggregate over a BIGINT key column: a 2^log2Bits
  * bitset as packed longs, 4 double-hashed probes per key, OR-merge
  * across partials. Returns the bitset as BINARY (8·2^(log2Bits-6)
  * bytes) — small enough to ride a 1-row broadcast to every fact
  * task. */
case class BloomBuildAgg(
    child: Expression,
    log2Bits: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(log2Bits >= 6 && log2Bits <= 30,
    s"bloom_build log2Bits must be in [6,30], got $log2Bits")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_build requires a bigint column, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](1 << (log2Bits - 6))

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) ExprKernels.bloomSet(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val bytes = new Array[Byte](buf.length * 8)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().put(buf)
    bytes
  }

  override def serialize(buf: Array[Long]): Array[Byte] = eval(buf).asInstanceOf[Array[Byte]]

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "bloom_build"
}

/** Scalar membership probe against a `bloom_build` bitset: false
  * means DEFINITELY absent (safe to drop before the shuffle), true
  * means possibly present (the exact join downstream resolves it).
  * Real `doGenCode` via the shared [[ExprKernels.bloomContains]]
  * static kernel, so the fact-side Filter stays inside whole-stage
  * codegen — this expression sits on the 100 TB hot path. */
case class BloomMightContain(bloom: Expression, key: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = bloom
  override def right: Expression = key
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (bloom.dataType == BinaryType && key.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_contains requires (binary, bigint), got " +
        s"(${bloom.dataType.simpleString}, ${key.dataType.simpleString})")

  override protected def nullSafeEval(b: Any, k: Any): Any =
    ExprKernels.bloomContains(b.asInstanceOf[Array[Byte]], k.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (b, k) =>
      s"${ev.value} = graft.functions.ExprKernels.bloomContains($b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(bloom = newLeft, key = newRight)
}

/** Bounded TOP-K EDGE selector: keep the k best (score DESC, id ASC)
  * (id, score) pairs of a group in O(k) state, returned best-first as
  * `array<struct<NId:bigint, Cosine:double>>` — element index IS
  * rank−1. The map-side-combinable replacement for the
  * `row_number().over(partitionBy(id).orderBy(score desc, id))` rank
  * cut on WIDE candidate joins: the window form shuffles every
  * candidate row (n·nprobe·(n/K) of them for the routed kNN graph,
  * each carrying its vector), while this aggregate crosses the
  * exchange as ≤ k (double, long) pairs per group per partial — the
  * nearestCentroids min-struct precedent generalized from top-1 to
  * top-k.
  *
  * Ordering contract: score ties break toward the SMALLER id; -0.0 is
  * NORMALIZED to 0.0 on entry (Spark's sort normalizes float zeros —
  * a raw `Double.compare` TreeSet order would rank the signed zeros
  * apart from the window form) so ranks stay bit-identical to the
  * row_number window this aggregate replaces. NaN scores are DROPPED
  * unconditionally on entry — unrankable, never buffered (the
  * engine's cosine scores are finite by construction: positive
  * integer norms); a caller that wants NaN to mean something must
  * pre-map it, not rely on sort order. Duplicate (score, id) pairs
  * collapse (ids are unique per group in every engine call site). */
case class TopKEdges(
    id: Expression,
    score: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]] {

  require(k >= 1, s"topk_edges capacity must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(id, score)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("NId", LongType, nullable = false),
    StructField("Cosine", DoubleType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (id.dataType == LongType && score.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"topk_edges requires (bigint id, double score), got " +
        s"(${id.dataType.simpleString}, ${score.dataType.simpleString})")

  /** Best-first: score desc, id asc. Used both as the TreeSet order
    * and (inlined, allocation-free) for the reject fast path. */
  private object BestFirst extends java.util.Comparator[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
    new java.util.TreeSet[(Double, Long)](BestFirst)

  override def update(
      buf: java.util.TreeSet[(Double, Long)],
      input: InternalRow): java.util.TreeSet[(Double, Long)] = {
    val i = id.eval(input)
    val s = score.eval(input)
    if (i != null && s != null)
      add(buf, s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  /** The hot path: almost every candidate loses to the current worst
    * once the buffer is full — compare primitives BEFORE boxing a
    * tuple, so the reject path allocates nothing (this runs once per
    * candidate row, n^1.5·nprobe times for the routed graph).
    *
    * Two IEEE edges are normalized HERE so every path through the
    * buffer (under-capacity add, full-buffer race, merge) agrees with
    * the row_number window form this aggregate is bit-identical to:
    * -0.0 becomes 0.0 (Spark's sort normalizes float zeros; raw
    * `Double.compare` would rank them apart), and NaN is dropped
    * unconditionally (unrankable — previously the under-capacity
    * branch accepted it while the full-buffer primitive compare
    * rejected it, a partition-order-dependent result). */
  private def add(buf: java.util.TreeSet[(Double, Long)],
                  s0: Double, i: Long): Unit = {
    if (java.lang.Double.isNaN(s0)) return
    val s = if (s0 == 0.0d) 0.0d else s0 // folds -0.0 → 0.0
    if (buf.size < k) {
      buf.add((s, i)); ()
    } else {
      val w = buf.last()
      if (s > w._1 || (s == w._1 && i < w._2)) {
        if (buf.add((s, i))) { buf.pollLast(); () }
      }
    }
  }

  override def merge(
      buf: java.util.TreeSet[(Double, Long)],
      other: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
    val it = other.iterator()
    while (it.hasNext) {
      val e = it.next()
      add(buf, e._1, e._2)
    }
    buf
  }

  override def eval(buf: java.util.TreeSet[(Double, Long)]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(e._2, e._1)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeDouble(e._1); out.writeLong(e._2)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      buf.add((in.readDouble(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKEdges =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKEdges =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(id = newChildren(0), score = newChildren(1))
  override def prettyName: String = "topk_edges"
}

/** Plurality-vote argmax over a BIGINT label column: the label with
  * the HIGHEST occurrence count in the group, ties to the LOWEST
  * label — exactly the `max(struct(Cnt, −Lbl))` vote rule of
  * label propagation (ref behavior: GraphOps.labelPropagationOf),
  * collapsed into ONE aggregate so each LPA round runs a single
  * keyed exchange instead of two (r15 verdict #2: the
  * count-by-(Dst,Lbl) exchange followed by the argmax-by-Dst
  * exchange were the iterative graph family's dominant codec cost —
  * two shuffles per round × rounds).
  *
  * Buffer = label → count hash map; per-group state is bounded by
  * the number of DISTINCT labels among the group's members (≤ the
  * node's degree in LPA, and shrinking every round as communities
  * coalesce), and only the map crosses the exchange — partial
  * aggregation combines each map-side task's votes before shuffle,
  * so a hub node's million neighbors arrive as ≤ tasks × distinct
  * labels map entries, not a million rows. Merge is count addition:
  * associative, commutative, merge-order-free — the vote is exact
  * under any partitioning. */
case class LabelArgmax(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Long, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true // empty group → no vote
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"label_argmax requires a bigint column, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): mutable.HashMap[Long, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[Long, Long],
      input: InternalRow): mutable.HashMap[Long, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val l = v.asInstanceOf[Long]
      buf.update(l, buf.getOrElse(l, 0L) + 1L)
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[Long, Long],
      other: mutable.HashMap[Long, Long]): mutable.HashMap[Long, Long] = {
    other.foreach { case (l, c) => buf.update(l, buf.getOrElse(l, 0L) + c) }
    buf
  }

  override def eval(buf: mutable.HashMap[Long, Long]): Any =
    if (buf.isEmpty) null
    else {
      // single scan: highest count wins, ties to the lowest label
      var bestLbl = 0L; var bestCnt = -1L
      buf.foreach { case (l, c) =>
        if (c > bestCnt || (c == bestCnt && l < bestLbl)) {
          bestLbl = l; bestCnt = c
        }
      }
      bestLbl
    }

  override def serialize(buf: mutable.HashMap[Long, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (l, c) => out.writeLong(l); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Long, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[Long, Long]
    var i = 0
    while (i < n) { buf.update(in.readLong(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): LabelArgmax =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LabelArgmax =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "label_argmax"
}
