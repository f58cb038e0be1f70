package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Explicit-schema readers for the driver testdata star schema
  * (TESTDATA.md / FIXTURES.md §B). Explicit `StructType`s (never
  * `inferSchema`) keep scans deterministic and let the vectorized Parquet
  * reader prune columns: only fields referenced downstream appear in
  * `ReadSchema` after Catalyst's `ColumnPruning`.
  *
  * Scale notes (100 TB design): each reader returns a plain lazy scan —
  * no repartition/cache here, so Catalyst can push filters into the scan
  * (`PushedFilters`) and AQE can size shuffle partitions per query. Dim
  * tables (region/nation) are broadcast at join sites; fact tables
  * (lineitem/orders) stay shuffle-partitioned on their join keys.
  */
object Tables {

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** The events fixture has shipped with TWO physical encodings of `ts`
    * across driver testdata regenerations: parquet TIMESTAMP(NANOS)
    * (reads as a raw nanos long under `nanosAsLong`) and plain
    * `timestamp[us]` (reads natively as TimestampType). Declaring one
    * schema blindly silently misreads the other — a MICROS column
    * declared LongType yields raw MICROseconds, which a ns→µs `div
    * 1000` then collapses to 1970 — so every events read goes through
    * [[eventsTsType]] (a cached parquet-footer sniff) and
    * normalizes to ONE canonical raw shape: `ts` as a nanosecond long
    * ([[eventsRawSchema]]). */
  val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // canonical raw nanos
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** [[eventsRawSchema]] with `ts` declared as the given physical type
    * (LongType for NANOS-as-long; Timestamp[NTZ]Type for native µs). */
  def eventsSchemaWith(tsType: DataType): StructType = StructType(
    eventsRawSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))

  private val tsEncodingCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, DataType)]()

  /** Drop a sniff-cache entry — for ONE-SHOT staging dirs (the
    * streaming gate queries), whose entries would otherwise accumulate
    * for the life of the JVM. Fixture paths stay cached. */
  private[graft] def forgetTsEncoding(path: String): Unit =
    tsEncodingCache.remove(path)

  /** Filesystem fingerprint of a local events path (the persisted
    * indexes' [[graft.ops.BucketedTables.fingerprint]]: names, sizes
    * and mtimes of the whole tree), so the sniff cache self-invalidates
    * when a path's parquet is REWRITTEN with the other ts encoding
    * (previously path-only keying misread it for the JVM lifetime
    * unless the writer knew to call [[forgetTsEncoding]]). A missing
    * or non-local path (no java.nio view) falls back to "" =
    * path-only keying, the old behavior. */
  private def tsPathFingerprint(path: String): String =
    try graft.ops.BucketedTables.fingerprint(java.nio.file.Paths.get(path))
    catch { case _: Exception => "" }

  /** The physical type Spark surfaces for `ts` in the parquet at `path`
    * (file or directory of staged files): LongType for the
    * TIMESTAMP(NANOS)-as-long encoding, TimestampType / TimestampNTZType
    * for native µs (the current fixture ships timestamp[us] NTZ). One
    * footer-schema probe per distinct (path, content fingerprint) —
    * Verify's concurrent query threads all hit the same entry; a
    * rewritten path re-sniffs (a benign race can sniff twice —
    * idempotent). */
  def eventsTsType(spark: SparkSession, path: String): DataType = {
    val fp = tsPathFingerprint(path)
    val cached = tsEncodingCache.get(path)
    if (cached != null && cached._1 == fp) cached._2
    else {
      val t = spark.read.parquet(path).schema
        .find(_.name == "ts")
        .getOrElse(throw new IllegalStateException(
          s"events parquet at $path has no `ts` column"))
        .dataType
      t match {
        case LongType | TimestampType | TimestampNTZType =>
          tsEncodingCache.put(path, (fp, t)); t
        case other => throw new IllegalStateException(
          s"events.ts at $path has unsupported physical type $other " +
            "(expected timestamp[us] or TIMESTAMP(NANOS) under nanosAsLong)")
      }
    }
  }

  /** Whole-ns long from a native-timestamp `ts` column. NTZ columns
    * cast through TimestampType first; all session builders pin
    * `spark.sql.session.timeZone=UTC`, so the cast is the identity on
    * the stored local instant — exactly how DuckDB's `epoch_us` reads
    * the same naive column. */
  private[graft] def tsToNanos(ts: Column): Column =
    unix_micros(ts.cast(TimestampType)) * lit(1000L)

  /** Events in the canonical RAW shape ([[eventsRawSchema]]: `ts` =
    * nanosecond long) regardless of which physical encoding the fixture
    * currently ships. Whole-number-ns in both paths, so downstream
    * exact-integer gap arithmetic is encoding-independent. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    eventsTsType(spark, path) match {
      case LongType => spark.read.schema(eventsRawSchema).parquet(path)
      case t => spark.read.schema(eventsSchemaWith(t)).parquet(path)
        .withColumn("ts", tsToNanos(col("ts")))
    }
  }

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def read(spark: SparkSession, dir: String, name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region", regionSchema)
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation", nationSchema)
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer", customerSchema)
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part", partSchema)
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders", ordersSchema)
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem", lineitemSchema)
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents", documentsSchema)

  /** [[documents]] spread for a per-row-CPU pass — THE pinned form of
    * the corpus repartition every sketch/tokenize/hash substrate
    * starts from, centralizing the round-10 rule: a repartition whose
    * DOWNSTREAM cost is per-row CPU (md5 shingling, tokenization,
    * native text kernels) must pin its partition count, because AQE's
    * coalescer sees only shuffle BYTES and a few-MB corpus collapses
    * to ONE post-shuffle partition, serializing the expensive stage
    * (measured 8.5 s vs 1.6 s on the pHash pass at sf0.1). The
    * explicit count arrives as a REPARTITION_BY_NUM shuffle origin,
    * which the coalescer is required to leave alone. At real scale
    * the input is already many splits and this shuffle is a cheap
    * narrow redistribution; doc_id keys are unique, so the spread is
    * uniform by construction. PlanSpec guards the property on the
    * dedup substrate and the three perceptual-hash passes. */
  /** Width SIZED by corpus rows (round 14, the quantized-substrate
    * rule): documents rows are per-row EXPENSIVE (md5 shingles,
    * native text kernels — the 8.5 s pHash measurement above is
    * 5,000 rows), so the divisor is small: full parallelism from
    * ~5k docs (the bench corpus keeps the exact width its rows were
    * measured at), a few partitions at the sf0.01 gate and in unit
    * fixtures where 32-task dispatch is pure overhead. */
  val DocSpreadRowsPerPartition = 160L

  /** documents row count — a metadata-cheap parquet footer count,
    * registered per (session, dir) in [[graft.Substrates]]. */
  private def documentsCount(spark: SparkSession, dir: String): Long =
    graft.Substrates[Long](spark, dir, "documents.count")(_ => ())(
      documents(spark, dir).count())

  def documentsSpread(spark: SparkSession, dir: String): DataFrame = {
    val width = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (documentsCount(spark, dir) + DocSpreadRowsPerPartition - 1L)
        / DocSpreadRowsPerPartition)).toInt
    documents(spark, dir).repartition(width, col("doc_id"))
  }

  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings", embeddingsSchema)

  /** Events with `ts` as a proper microsecond timestamp plus the raw
    * nanos (`ts_ns`) for exact-integer gap arithmetic (sessionization).
    * Unit-aware via [[eventsRaw]] — handles both physical encodings the
    * fixture has shipped (timestamp[us] and TIMESTAMP(NANOS)).
    *
    * `spark.sql.legacy.parquet.nanosAsLong=true` must still be set in
    * the SESSION BUILDER (Bench/Verify/tools/SparkSpec all set it) so
    * the NANOS encoding is readable at all; it is a no-op for the µs
    * encoding. The conf is deliberately NOT set here: mutating session
    * conf inside a reader is a race-shaped global side effect under
    * Verify's concurrent query threads. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsRaw(spark, dir)
      .withColumn("ts_ns", col("ts"))
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
}
