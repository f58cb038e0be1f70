package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.etl.Tables
import graft.ops.CurateOps

/** Streaming twins of the corpus-curation front door: documents arrive
  * as a stream (the ingestion firehose) and are checked against a
  * STATIC reference relation — the eval shingle set (decontamination)
  * — or folded into per-source sketches.
  *
  * The foreachBatch twins run their kernel per microbatch, the
  * pattern for operators that need full batch semantics inside each
  * trigger (per-doc distinct counts) with
  * NO state store: nothing grows with stream history — a plain
  * streaming `groupBy` would pin one state row per document forever
  * (no watermark can evict by doc_id), which at firehose scale is a
  * slow OOM. Each doc lives in exactly one microbatch, so per-batch
  * results compose into exactly the batch answer (StreamingSpec).
  *
  * The driver-gate one-shots (`driftChisqStreamQuery`,
  * `decontaminateStreamQuery` and the two sketch twins) keep only
  * their kernel and presentation here; staging, sink names, draining,
  * read-back and cleanup are [[OneShot]]'s.
  */
object DocsStream {

  /** A streaming source over a documents parquet dir. */
  def readDocsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(Tables.documentsSchema)
      .parquet(dir)

  /** Streaming twin of `text_drift_chisq`: documents stream in and a
    * SOURCE-KEYED streaming aggregation maintains each source's
    * token-length histogram incrementally — state is |sources| rows,
    * BOUNDED by construction (the opposite of a doc-keyed state,
    * which nothing can evict). Complete-mode output feeds the SAME
    * χ²-shaping kernel as the batch card (TextOps.driftFromPerSource
    * — one definition), so the batch oracle SQL hashes the streaming
    * run directly. This is the live form of the ingest-monitoring
    * card: in production each trigger publishes a fresh drift table;
    * the one-shot staging makes the final trigger's table equal the
    * batch answer. The driver-side collect is |sources| rows. */
  def driftChisqStreamQuery(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextOps.driftFromPerSource(
      OneShot.memoryOnce(s"$dir/documents.parquet", "text_drift_once",
          OutputMode.Complete())(d =>
        graft.ops.TextOps.driftPerSource(readDocsStream(spark, d)
          .withColumn("TS", expr("token_stats(text)")))))

  /** The per-batch decontamination kernel: per-train-doc distinct
    * eval-doc/shingle collision counts against the static `(Shingle,
    * EvalId)` relation (CurateOps.evalShingles or any curated
    * benchmark shingle set). The shingle window MUST match the one the
    * eval set was built with — both default to
    * CurateOps.DecontaminationShingleN, so the twin tracks the batch
    * query's widened round-8 default by construction. Batch semantics
    * — countDistinct is legal and exact. Emits only docs with ≥1
    * collision (inner join); the batch query zero-fills the clean
    * ones. */
  def decontaminateBatch(spark: SparkSession, docs: DataFrame,
                         evalSh: DataFrame,
                         n: Int = CurateOps.DecontaminationShingleN): DataFrame = {
    docs
      .filter(CurateOps.splitOf(col("doc_id")) === "train")
      // the ONE shingle-key definition (CurateOps.shingleKeysSql):
      // xxhash64 int64 at wide windows, raw strings at n == 3 — so
      // this side always matches whatever substrate evalShingles(n)
      // was built from (a hand-rolled hash here would join bigint
      // against string at n == 3 and silently report zero hits)
      .select(col("doc_id"),
        explode(expr(CurateOps.shingleKeysSql(n))).as("Shingle"))
      .join(evalSh, "Shingle")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("EvalId")).cast(IntegerType).as("NEvalDocs"),
        countDistinct(col("Shingle")).cast(IntegerType).as("NSharedShingles"))
  }

  /** Drive [[decontaminateBatch]] over a document stream, invoking
    * `sink` with each microbatch's contamination rows. `n` is the
    * shingle window and MUST match the one `evalSh` was built with —
    * threaded through (round 14) so non-default windows (n = 3's raw
    * string keys included) run the same end-to-end path the default
    * does, instead of only being reachable in the batch kernel. */
  def runDecontaminate(spark: SparkSession, docs: DataFrame,
                       evalSh: DataFrame,
                       n: Int = CurateOps.DecontaminationShingleN)
                      (sink: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(decontaminateBatch(spark, batch, evalSh, n))
      }
      .start()

  /** Streaming twin of `curate_decontaminate` for the driver gate: the
    * documents parquet staged as a one-shot firehose, every microbatch
    * checked against the static eval shingle set via the foreachBatch
    * kernel, hit rows accumulated and re-shaped through the SAME
    * zero-fill presentation the batch query uses — so the batch oracle
    * SQL hashes the streaming run directly. This puts the
    * foreachBatch-against-static-relations pattern (zero state store,
    * the ingestion-curation front door) inside the gate next to the
    * five stateful one-shots. The driver-side hit buffer is
    * contaminated-rows-sized (a production sink upserts hits to a
    * table and the shaping is a view over it). */
  def decontaminateStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val evalSh = CurateOps.evalShingles(spark, dir)
    val batches = OneShot(once => OneShot.batchRows(runDecontaminate(spark,
      readDocsStream(spark, once.stage(s"$dir/documents.parquet", "docs")), evalSh)(_)))
    // countDistinct rows are NOT composable across batches by plain
    // union (a doc split over two triggers would double-report) —
    // the one-shot staging above guarantees a single batch; assert
    // it rather than silently fan out in decontaminateShape
    val withHits = batches.count(_.nonEmpty)
    require(withHits <= 1,
      s"decontaminateStreamQuery expected one-shot staging to yield one " +
        s"microbatch with hits, saw $withHits — per-batch distinct " +
        "counts do not compose by union")
    val hitSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("NEvalDocs", IntegerType),
      StructField("NSharedShingles", IntegerType)))
    CurateOps.decontaminateShape(spark, dir,
      graft.Substrates.local(spark, batches.flatten, hitSchema))
  }

  /** The per-batch KMV kernel: each document microbatch reduces to
    * one k-long sketch row per source it touches (TextOps.kmvSketchOf
    * over the ONE shingle-hash definition, TextOps.shingleHashCol).
    * Unlike the countDistinct kernels above, these partials COMPOSE
    * across any batch split — bottom-k of a union of bottom-ks is the
    * bottom-k of the union — so no one-shot staging assumption is
    * needed: the stream maintains per-source sketches incrementally
    * and any trigger can publish overlap estimates. */
  def sourceSketchBatch(spark: SparkSession, docs: DataFrame): DataFrame =
    graft.ops.TextOps.kmvSketchOf(docs
      .withColumn("Toks", expr(graft.ops.TextOps.toksSql))
      .select(col("source"),
        explode(expr(graft.ops.TextOps.shinglesSql)).as("Shingle"))
      .select(col("source"),
        graft.ops.TextOps.shingleHashCol(col("Shingle")).as("V")))

  /** Drive [[sourceSketchBatch]] over a document stream — `sink`
    * receives each microbatch's per-source partial sketches (a
    * production sink upserts them into a sketch table; merging is the
    * same kmv_kmin aggregation over the accumulated rows). */
  def runSourceSketch(spark: SparkSession, docs: DataFrame)
                     (sink: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(sourceSketchBatch(spark, batch))
      }
      .start()

  /** Schema of the per-source sketch rows [[runSourceSketch]] emits:
    * one row per source, `Ks` = the bottom-k shingle hashes. */
  private[graft] val sketchTableSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("Ks",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))))

  /** Streaming twin of `sketch_source_overlap`, emitting the DECLARED
    * production columns (the estimate side only — the batch query's
    * ExactOverlap/ErrOk certificate needs the whole corpus, which an
    * ingestion stream by definition does not have): documents stream
    * in, each microbatch folds to per-source partial KMV sketches,
    * the partials merge by re-sketching their union (exact, the KMV
    * property — spec-proven equal across batch splits), and the
    * merged sketches run the SAME pair math as the batch query
    * (TextOps.kmvPairEstimates, one definition). State is
    * |sources| × k longs however long the stream runs. */
  def sourceOverlapStreamQuery(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextOps.kmvPairEstimates(mergedSourceSketchesOnce(spark, dir))
      .select(col("SA"), col("SB"), col("Matched"),
        col("EstUnion"), col("EstOverlap"))
      .transform(graft.etl.Summaries.smallSort(_, col("SA"), col("SB")))

  /** Streaming twin of `sketch_source_difference` — the directional
    * |A\\B| / |B\\A| and containment ESTIMATES are sketch-only
    * statistics (TextOps.kmvDifferenceEstimates), so the same merged
    * per-source sketches the overlap twin maintains serve them with
    * no further state; the batch query's exact certificates need the
    * whole corpus an ingestion stream does not have. */
  def sourceDifferenceStreamQuery(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextOps.kmvDifferenceEstimates(mergedSourceSketchesOnce(spark, dir))
      .select(graft.ops.TextOps.DifferenceEstimateCols.map(col): _*)
      .transform(graft.etl.Summaries.smallSort(_, col("SA"), col("SB")))

  /** One-shot stream → merged per-source KMV sketches: stage the
    * corpus as a file stream, fold each microbatch to per-source
    * partials, merge by re-sketching the union (exact — the KMV
    * composability property). Shared by both sketch stream twins. */
  private def mergedSourceSketchesOnce(spark: SparkSession, dir: String): DataFrame = {
    val batches = OneShot(once => OneShot.batchRows(runSourceSketch(spark,
      readDocsStream(spark, once.stage(s"$dir/documents.parquet", "docs")))(_)))
    graft.ops.TextOps.kmvSketchOf(
      graft.Substrates.local(spark, batches.flatten, sketchTableSchema)
        .select(col("source"), explode(col("Ks")).as("V")))
  }
}
