package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Substrates
import graft.etl.Tables

/** Training-corpus curation operators — the stages a real LLM data
  * pipeline runs AFTER per-doc analysis: deterministic dataset
  * splitting and the filter-compose step that turns raw documents
  * into a curated training set.
  */
object CurateOps {

  /** Split fractions over the 0..255 bucket space: < 204 → train
    * (~79.7%), < 230 → val (~10.2%), else test (~10.2%). */
  val TrainUpper = 204
  val ValUpper = 230

  /** The md5-first-byte bucket (0..255) of a BIGINT id column — the
    * shared deterministic-hash primitive behind split assignment and
    * stratified sampling. `salt` decorrelates independent decisions
    * (the sample hash must not be a function of the split hash, or
    * sampling would bias the splits). */
  private def hashBucket(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), id.cast(StringType))), 1, 2), 16, 10)
      .cast(IntegerType)

  /** Deterministic train/val/test assignment: bucket = first byte of
    * md5(doc_id), split by fixed thresholds. Properties a training
    * pipeline needs, all by construction: (1) stable — a document's
    * split never changes as the corpus grows (pure function of id, no
    * RNG state, no ordering dependence); (2) engine-portable — md5 is
    * bit-identical everywhere, so the DuckDB oracle reproduces the
    * assignment exactly; (3) uniform — md5 bytes are uniform, so
    * fractions converge at corpus scale. One narrow codegen pass, no
    * shuffle (presentation sort aside). */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("Bucket", hashBucket(col("doc_id"), ""))
      .withColumn("Split", splitFromBucket(col("Bucket")))
      .orderBy(col("doc_id"))

  /** Bucket → split label: THE single threshold definition (every
    * other form below derives from it — a threshold edit cannot
    * desynchronize the stages). */
  private def splitFromBucket(b: Column): Column =
    when(b < TrainUpper, "train").when(b < ValUpper, "val").otherwise("test")

  /** The split label as a pure column function of the id — used by
    * [[decontaminate]] and the streaming twin
    * (graft.streaming.DocsStream). */
  def splitOf(id: Column): Column = splitFromBucket(hashBucket(id, ""))

  /** GROUP-aware split: every document of one SOURCE lands in the
    * same split — the leakage-safe assignment real pipelines use for
    * provenance-clustered corpora (a domain's mirrors, re-crawls, and
    * re-posts are near-duplicates of each other; a per-document hash
    * split scatters them across train AND test, leaking the test set
    * into training no matter how good the decontamination pass is —
    * the grouped split removes the whole leak class by construction).
    * Same bucket function and thresholds as [[splitAssign]], keyed by
    * the group: stable as the corpus grows, engine-portable,
    * fractions converge over many groups (at FEW groups the split
    * sizes are lumpy — that is inherent to group splits, not a
    * defect; OpsSpec asserts the one-split-per-source invariant).
    * One narrow codegen pass, no shuffle beyond the presentation
    * sort. */
  def splitGrouped(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("Split", groupSplitOf(col("source")))
      .orderBy(col("doc_id"))

  /** The grouped-split label as a pure column function of the group
    * key — ONE definition under [[splitGrouped]] and
    * [[splitLeakageGrouped]]. */
  def groupSplitOf(source: Column): Column =
    splitFromBucket(hashBucket(source, ""))

  /** The split column alone (no presentation sort) — shared by
    * [[splitAssign]]'s consumers below. */
  private def docSplits(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("Split", splitOf(col("doc_id")))

  /** Minimum shared distinct shingles for a train document to count
    * as contaminated by an eval document. 1 = any overlap (the
    * conservative default a decontamination pass ships with). */
  val ContaminationMinShingles = 1

  /** Decontamination shingle window (tokens). Published practice uses
    * 8-13-token windows (GPT-3's 13-gram, PaLM/Llama-style 8+-gram
    * overlap checks): at 3 tokens common phrases collide across
    * unrelated documents and a real corpus over-flags. Parameterized
    * through [[decontaminate]] (the DuckDB mirror interpolates the
    * same constant) so a pipeline can tighten or loosen; the dedup
    * family's shingles deliberately stay at 3. */
  val DecontaminationShingleN = 8

  /** The corpus shingle table at window `n`: the dedup family's
    * memoized+cached 3-gram table when n == 3 (one md5 pass, shared
    * session-wide), else a session-memoized `token_shingles(text, n)`
    * pass of its own — [[decontaminate]] shingles BOTH join sides and
    * runs inside the gate query, `runCurationPipeline`, AND
    * `curationFunnel`, so an uncached wide-window pass would re-md5
    * the corpus on every call (caught in round-8 review).
    *
    * The wide-window (n != 3) substrate carries shingles as
    * `xxhash64` INT64 keys, not strings (round-12: the x100 decade
    * measured the string-keyed shingle join as the leakage card's
    * dominant term — an 8-token shingle averages ~50 bytes where the
    * hash is 8, so every exchange, cache page, and broadcast in the
    * decontaminate/leakage family shrinks several-fold; the dedup
    * family's band-key discipline applied to this substrate). The
    * hash never reaches any output — consumers emit distinct-COUNTS —
    * and the DuckDB mirrors deliberately stay on the raw strings, so
    * a gate hash-match also certifies the hashing introduced no
    * counted collision at gate scale. Collision budget at 100 TB: a
    * 64-bit key over a trillion distinct shingles expects ~10⁴
    * colliding pairs corpus-WIDE; a collision can only merge two
    * shingles (undercount by 1) or add one spurious doc-pair overlap
    * — the same accept-and-verify economics as the banded-LSH family,
    * conservative for contamination flags (false flag, never a missed
    * real overlap). */
  private def shinglesAt(spark: SparkSession, dir: String, n: Int): DataFrame =
    if (n == 3) DedupOps.sharedShingles(spark, dir)
    else Substrates.frame(spark, dir, "curate.shingles", n)(
      Tables.documents(spark, dir)
        .select(col("doc_id"), expr(shingleKeysSql(n)).as("Sh"))
        .cache())

  /** The per-row shingle-KEY array expression at window `n` — the one
    * definition of what a "shingle key" is, shared by [[shinglesAt]]'s
    * wide-window substrate and every per-batch consumer that must join
    * against it (DocsStream.decontaminateBatch): raw string shingles at
    * n == 3 (the shared dedup 3-gram sketch keeps its string keys —
    * its band columns hash those), `xxhash64` int64 keys otherwise. A
    * consumer that hand-rolls the hashing joins bigint against string
    * on the n == 3 substrate and silently matches NOTHING — factored
    * here so that mismatch is unwritable. `token_shingles` reaches
    * every session through [[graft.GraftExtensions]]. */
  private[graft] def shingleKeysSql(n: Int): String =
    if (n == 3) "token_shingles(text)"
    else s"transform(token_shingles(text, $n), s -> xxhash64(s))"

  /** The held-out eval (test-split) shingle set — the static side of
    * both the batch decontamination join and its streaming twin. */
  def evalShingles(spark: SparkSession, dir: String,
                   n: Int = DecontaminationShingleN): DataFrame =
    shinglesAt(spark, dir, n)
      .filter(splitOf(col("doc_id")) === "test")
      .select(explode(col("Sh")).as("Shingle"), col("doc_id").as("EvalId"))
      .distinct()

  /** Train/eval DECONTAMINATION — the step an LLM data pipeline runs
    * before training: flag every train-split document that shares
    * n-gram content with the held-out eval (test) split, so benchmark
    * answers can't leak into the training corpus.
    *
    * Mechanism: explode each document's distinct n-token shingles
    * (the near-dup family's native `token_shingles` primitive at
    * [[DecontaminationShingleN]] — wider than dedup's 3-gram, see the
    * constant's scaladoc), split with the deterministic md5 split, and
    * count, per train document, the distinct eval documents and
    * distinct shingles it collides with.
    *
    * Scale shape (100 TB): the eval side is a FIXED-SIZE benchmark
    * suite — thousands of documents, not a fraction of the corpus — so
    * its shingle set is broadcast and the train side never shuffles:
    * one narrow pass over the corpus + a broadcast-hash semi-count.
    * (At test SF the "eval set" is the ~10% test split; the broadcast
    * stays correct, just less lopsided.) Output is every train doc
    * with its contamination evidence, zero-filled via left join.
    */
  def decontaminate(spark: SparkSession, dir: String,
                    n: Int = DecontaminationShingleN): DataFrame = {
    val sh = shinglesAt(spark, dir, n)
      .withColumn("Split", splitOf(col("doc_id")))
      .select(col("doc_id"), col("Split"), explode(col("Sh")).as("Shingle"))
    val evalSh = evalShingles(spark, dir, n)
    val hits = sh.filter(col("Split") === "train")
      .join(broadcast(evalSh), "Shingle")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("EvalId")).cast(IntegerType).as("NEvalDocs"),
        countDistinct(col("Shingle")).cast(IntegerType).as("NSharedShingles"))
    decontaminateShape(spark, dir, hits)
  }

  /** The zero-filled presentation over the train split, shared by the
    * batch query and the streaming one-shot gate twin (whose hits come
    * from the foreachBatch kernel instead of the in-plan join). */
  private[graft] def decontaminateShape(spark: SparkSession, dir: String,
                                        hits: DataFrame): DataFrame =
    docSplits(spark, dir).filter(col("Split") === "train").select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("NEvalDocs"), lit(0)).as("NEvalDocs"),
        coalesce(col("NSharedShingles"), lit(0)).as("NSharedShingles"),
        (coalesce(col("NSharedShingles"), lit(0)) >= ContaminationMinShingles)
          .as("IsContaminated"))
      .orderBy(col("doc_id"))

  /** SPLIT-LEAKAGE AUDIT card — one row per ORDERED split pair: how
    * many of `Split`'s documents share ≥ [[ContaminationMinShingles]]
    * distinct [[DecontaminationShingleN]]-gram shingles with content
    * present anywhere in `OtherSplit`, plus the rate. [[decontaminate]]
    * flags individual train documents against the test split; this
    * card is the operator-facing SUMMARY over every pair — the number
    * a pipeline audit reads before signing off a split scheme (and
    * exactly the quantity [[splitGrouped]] exists to drive to zero on
    * provenance-clustered corpora, where per-doc hashing scatters a
    * domain's near-duplicates across train AND test).
    *
    * Scale shape: the shared wide-window shingle substrate exploded
    * once; per-split distinct shingle vocabularies joined back on the
    * shingle key (uniform md5-grade distribution — the dedup-family
    * shape); fan-out is bounded by (#splits − 1)× the exploded
    * listing, never a doc-pair join. Counts are integers; LeakRate is
    * ONE division. */
  def splitLeakage(spark: SparkSession, dir: String,
                   n: Int = DecontaminationShingleN): DataFrame =
    splitLeakageBody(
      shinglesAt(spark, dir, n).withColumn("Split", splitOf(col("doc_id"))),
      docSplits(spark, dir).select(col("doc_id"), col("Split")))

  /** [[splitLeakage]] under the GROUPED split scheme — the audit pair
    * the grouped assignment exists to be judged by: [[splitGrouped]]'s
    * whole purpose is driving the (train, test) leak rate of
    * provenance-clustered near-duplicates to zero (same-source copies
    * land in the SAME split by construction, so they can never leak
    * across), and this card is the number that shows it. Residual
    * leakage under the grouped scheme = genuinely CROSS-source shared
    * content, the part no split scheme can remove.
    *
    * Same body as the per-doc card; the split label rides one
    * doc-keyed join with the (doc_id, source) listing (the substrate
    * carries no source column — pre-explode, doc-count-sized, the
    * narrow side of every shuffle it touches). Splits with zero
    * groups at small group counts simply drop their pair rows — both
    * engines derive the frame from the same totals.
    *
    * DELIBERATELY batch-only — no `_stream` twin, unlike
    * [[decontaminate]]. The decontaminate twin is genuinely
    * incremental: each arriving train doc is checked against a STATIC
    * eval shingle relation, so a microbatch's answer is final when it
    * lands. This card has no static side: BOTH operands are the whole
    * corpus's per-split shingle vocabularies, and every arriving doc
    * can retroactively flip earlier docs' leak status (a new test doc
    * adds shingles to the test vocabulary that old train docs may
    * share). A "streaming" version would recompute the full audit per
    * trigger — a scheduled batch job wearing streaming clothes. The
    * production shape is the one this repo runs: the audit executes
    * over a corpus snapshot when a split scheme is being signed off. */
  def splitLeakageGrouped(spark: SparkSession, dir: String,
                          n: Int = DecontaminationShingleN): DataFrame = {
    val splits = Tables.documents(spark, dir)
      .select(col("doc_id"), groupSplitOf(col("source")).as("Split"))
    splitLeakageBody(shinglesAt(spark, dir, n).join(splits, "doc_id"), splits)
  }

  /** Shared leakage-card body over a (doc_id, Split, Sh) substrate
    * and a (doc_id, Split) totals listing. */
  private def splitLeakageBody(shSplit: DataFrame, splits: DataFrame): DataFrame = {
    val sh = shSplit
      .select(col("doc_id"), col("Split"), explode(col("Sh")).as("Shingle"))
    val vocab = sh.select(col("Split").as("OtherSplit"), col("Shingle")).distinct()
    // count(1), NOT countDistinct(Shingle): token_shingles emits
    // DISTINCT shingles per doc and vocab is distinct per split, so
    // (doc, OtherSplit, Shingle) join rows are unique by construction
    // — the plain count partial-aggregates map-side with the key
    // column dropped before the exchange. The card is corpus-LINEAR
    // by nature (every shingle is read once; measured α ≈ 1.0 on the
    // 50k→500k decade) — the shingle join is the dominant term, now
    // on int64 xxhash64 keys (see shinglesAt), the same shape as the
    // decontaminate family.
    val leaked = sh.join(vocab, Seq("Shingle"))
      .filter(col("Split") =!= col("OtherSplit"))
      .select(col("Split"), col("OtherSplit"), col("doc_id"))
      .groupBy(col("Split"), col("OtherSplit"), col("doc_id"))
      .agg(count(lit(1)).as("NShared"))
      .filter(col("NShared") >= ContaminationMinShingles)
      .groupBy(col("Split"), col("OtherSplit"))
      .agg(count(lit(1)).as("NLeakedDocs"))
    val totals = splits
      .groupBy(col("Split")).agg(count(lit(1)).as("NDocs"))
    val pairs = totals.select(col("Split"), col("NDocs"))
      .crossJoin(totals.select(col("Split").as("OtherSplit")))
      .filter(col("Split") =!= col("OtherSplit"))
    pairs.join(leaked, Seq("Split", "OtherSplit"), "left")
      .select(col("Split"), col("OtherSplit"), col("NDocs"),
        coalesce(col("NLeakedDocs"), lit(0L)).as("NLeakedDocs"))
      .withColumn("LeakRate", col("NLeakedDocs").cast(DoubleType) / col("NDocs"))
      .orderBy(col("Split"), col("OtherSplit"))
  }

  /** Per-language keep-thresholds over the 0..255 sample-bucket space.
    * The synthetic corpus is ~44% English; sampling en at 84/256
    * (~33%) rebalances it toward the other languages while keeping
    * every minority-language document. */
  val SampleThresholds: Seq[(String, Int)] = Seq("en" -> 84)
  val SampleDefaultThreshold = 256 // keep everything not listed above

  /** STRATIFIED deterministic sampling — corpus rebalancing by
    * language. A document is kept iff its sample bucket (first byte of
    * a salted md5 of the id — independent of the split hash) is below
    * its language's threshold. Same three properties as
    * [[splitAssign]]: stable under corpus growth, engine-portable
    * (md5), fractions converge by uniformity. One narrow codegen pass,
    * no shuffle, no RNG state — the property reservoir/`sample()`
    * approaches lose at scale (they depend on partitioning and seed
    * plumbing, and resampling a grown corpus reshuffles everything).
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val threshold = SampleThresholds.foldLeft(lit(SampleDefaultThreshold)) {
      case (acc, (lang, t)) => when(col("lang") === lang, t).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("SampleBucket", hashBucket(col("doc_id"), "sample|"))
      .withColumn("IsSampled", col("SampleBucket") < threshold)
      .orderBy(col("doc_id"))
  }

  /** Token budget for [[tokenBudget]] — roughly half the synthetic
    * corpus, so the greedy prefix is a non-trivial subset at any SF. */
  val TokenBudget = 12000L

  /** TOKEN-BUDGET PACKING — the training-mix construction step: fill a
    * fixed token budget with the highest-quality documents. Greedy by
    * (QualityScore desc, doc_id) total order, keep every document
    * whose running token total still fits.
    *
    * Scale shape: the window runs over (doc_id, NTokens, QualityScore)
    * triples — post-scoring narrow rows, the same class as the
    * customer ntile. At extreme corpus cardinality the global ordered
    * cumsum becomes the bottleneck; the fallback is the
    * customerSegmentsApprox pattern applied to quality: a quality
    * histogram (binned counts + token sums, fully parallel) picks the
    * threshold bucket whose cumulative tokens cross the budget, all
    * docs above the threshold are taken wholesale, and only the
    * boundary bucket needs the exact ordered scan. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir)
      .withColumn("TS", expr("token_stats(text)"))
      .select(col("doc_id"),
        col("TS.NTokens").as("NTokens"),
        col("TS.StopCount").as("StopCount"))
      .withColumn("QualityScore",
        TextOps.qualityScoreCol(col("NTokens"), col("StopCount")))
    val w = Window.orderBy(col("QualityScore").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("CumTokens", sum(col("NTokens").cast(LongType)).over(w))
      .filter(col("CumTokens") <= TokenBudget)
      .select(col("doc_id"), col("NTokens"), col("QualityScore"), col("CumTokens"))
      .orderBy(col("doc_id"))
  }

  /** Training-sequence length for [[packSequences]] — the classic
    * pre-training context chop (shared with the oracle SQL so the
    * packing layout is part of the query definition). */
  val PackSeqLen = 512

  /** SEQUENCE PACKING — the last physical step of a pre-training data
    * pipeline: concatenate documents and chop the token stream into
    * fixed-[[PackSeqLen]] training sequences. Emits the pack LAYOUT
    * per document (all exact integers): its token offset inside the
    * shard's stream and the first/last sequence ids it lands in
    * (`NSeqSpan` = how many sequences the doc straddles).
    *
    * Packing is SHARDED BY SOURCE: concat-and-chop has an inherently
    * sequential prefix-sum dependency, and sharding is how production
    * packers parallelize it — each shard's stream is independent, so
    * the window partitions by `source` (never a global order), shuffle
    * keyed on the shard id, one pass. At 100 TB the shard key would be
    * (source, file-group) at whatever granularity keeps a shard inside
    * one task; the operator's shape is unchanged. Zero-token documents
    * are excluded (they contribute nothing to the stream and would
    * otherwise make `LastSeq` ill-defined). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        expr("token_stats(text).NTokens").as("NTokens"))
      .filter(col("NTokens") > 0)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("StartTok",
        coalesce(sum(col("NTokens").cast(LongType)).over(w), lit(0L)))
      .withColumn("FirstSeq", expr(s"StartTok div $PackSeqLen"))
      .withColumn("LastSeq", expr(s"(StartTok + NTokens - 1) div $PackSeqLen"))
      .select(col("source"), col("doc_id"), col("NTokens"), col("StartTok"),
        col("FirstSeq"), col("LastSeq"),
        (col("LastSeq") - col("FirstSeq") + lit(1L)).cast(IntegerType).as("NSeqSpan"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Inclusion-probability denominator for [[sampleWeighted]]:
    * p(doc) = NTokens / [[WeightSampleDenom]] (corpus NTokens ≤ ~100,
    * so p < 1 and no clamp branch exists to diverge on). Shared with
    * the oracle SQL. */
  val WeightSampleDenom = 250L

  /** WEIGHT-PROPORTIONAL SAMPLING — probability-proportional-to-size
    * Bernoulli: keep a document with p = NTokens/[[WeightSampleDenom]]
    * (longer docs proportionally likelier — the standard
    * token-weighted corpus subsample, vs [[sampleStratified]]'s
    * per-language quotas and the uniform bottom-k). The coin is the
    * doc's 48-bit md5 prefix against an INTEGER threshold
    * `NTokens · 2⁴⁸ / denom`, so the decision is exact in any engine
    * that computes the same hash — deterministic, reproducible,
    * composable with incremental ingestion (a doc's coin never
    * changes; its threshold moves only if its own weight does).
    * Emits the inclusion probability per kept row — the
    * Horvitz-Thompson weight downstream estimators divide by.
    * Scale: one narrow filter pass, no shuffle before the
    * presentation sort. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val pow48 = 281474976710656.0 // 2^48
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        expr("token_stats(text).NTokens").as("NTokens"),
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 12), 16, 10)
          .cast(LongType).as("Hash48"))
      .filter(col("Hash48") * lit(WeightSampleDenom) <
        col("NTokens").cast(LongType) * lit(pow48.toLong))
      .withColumn("InclusionP",
        col("NTokens").cast(DoubleType) / lit(WeightSampleDenom.toDouble))
      .select(col("doc_id"), col("source"), col("NTokens"),
        col("Hash48"), col("InclusionP"))
      .orderBy(col("doc_id"))
  }

  /** Salt for the mixture coin — independent of the split and
    * stratified-sample hashes (three correlated decisions would bias
    * each other). */
  val MixtureSalt = "mix|"

  /** 2⁴⁸ — the coin space of the 48-bit md5-prefix hashes. */
  val Pow48 = 281474976710656L

  /** SOURCE-MIXTURE REBALANCING — the domain-mixing step of a
    * pre-training data pipeline (the Pile/Dolma-style recipe): given
    * relative target WEIGHTS per source, downsample each source so
    * the kept corpus approaches the target token shares.
    *
    * Feasibility is computed in-plan, not assumed: with supply S_s
    * (actual tokens per source), weight w_s, W = Σw_s, the largest
    * achievable total is `T = min_s ⌊S_s·W / w_s⌋` (no upsampling —
    * the scarcest source binds the whole mix, which is exactly how
    * production mixes are sized). Each source then keeps documents at
    * rate `r_s = w_s·T / (W·S_s) ≤ 1`, so kept tokens converge to the
    * target share w_s/W of T.
    *
    * The keep decision is EXACT INTEGER arithmetic in the 48-bit coin
    * space: keep iff `Hash48 · W · S_s < w_s·T · 2⁴⁸`, evaluated in
    * decimal128 (the products pass 2⁶³ at corpus scale) — no float in
    * the decision, bit-identical in any engine with the same md5.
    * `InclusionP = w_s·T/(W·S_s)` rides along for Horvitz-Thompson
    * reweighting; numerator and denominator stay below 2⁵³ even at
    * 100 TB token counts, so the double division is exact-input IEEE
    * and engine-portable.
    *
    * Scale shape: one narrow token-count pass, a by-source partial
    * aggregate collapsing to |sources| rows, driver-free 1-row
    * grand-total frames for W and T, and a broadcast join of the
    * ≤|sources|-row rate table back onto the corpus — the same class
    * as stratified sampling, with the rate derived from data instead
    * of a constant. A document's verdict never changes as OTHER docs
    * of its source arrive only if supply is pinned; re-running after
    * ingestion legitimately re-rates (mixtures are sized per run). */
  def mixtureSample(spark: SparkSession, dir: String,
                    weights: Map[String, Long] = Map.empty): DataFrame = {
    require(weights.values.forall(_ > 0), "mixture weights must be positive")
    val weightCol = weights.foldLeft(lit(1L)) {
      case (acc, (src, w)) => when(col("source") === src, w).otherwise(acc)
    }
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        expr("token_stats(text).NTokens").cast(LongType).as("NTokens"),
        conv(substring(md5(concat(lit(MixtureSalt), col("doc_id").cast(StringType))), 1, 12), 16, 10)
          .cast(LongType).as("Hash48"))
    val supply = docs.groupBy(col("source"))
      .agg(sum(col("NTokens")).as("SupplyTokens"))
      .withColumn("Weight", weightCol)
    // 1-row grand-total frames (the bounded-crossJoin pattern): W and
    // the feasibility bound T, all integer
    val wTot = supply.agg(sum(col("Weight")).as("WTot"))
    val tBound = supply.crossJoin(wTot)
      .agg(min(expr("SupplyTokens * WTot div Weight")).as("T"))
    val rates = supply.crossJoin(wTot).crossJoin(tBound)
      .withColumn("TargetNum", col("Weight") * col("T")) // = w_s·T
    val d38 = DecimalType(38, 0)
    docs.join(broadcast(rates.select(col("source"), col("WTot"),
        col("SupplyTokens"), col("TargetNum"))), "source")
      .withColumn("IsKept",
        col("Hash48").cast(d38) * col("WTot").cast(d38) * col("SupplyTokens").cast(d38)
          < col("TargetNum").cast(d38) * lit(Pow48).cast(d38))
      .withColumn("InclusionP",
        col("TargetNum").cast(DoubleType)
          / (col("WTot") * col("SupplyTokens")).cast(DoubleType))
      .select(col("doc_id"), col("source"), col("NTokens"), col("Hash48"),
        col("IsKept"), col("InclusionP"))
      .orderBy(col("doc_id"))
  }

  /** Minimum quality score for [[curate]] — ≈ the corpus median
    * (scores on the synthetic docs range 0.04–0.48; length-capped at
    * NTokens/200 with docs of 10–99 tokens). */
  val MinQuality = 0.25

  /** THE END-TO-END CURATION PIPELINE — one call from raw documents to
    * a training-ready corpus on disk, composing the individually
    * oracle-verified stages (the LLM-data counterpart of the
    * reference's `Pipeline.run`, ref: data/etl.py:380-413):
    *
    *   train split → decontaminate (drop eval-contaminated) →
    *   stratified sample (language rebalance) → quality + repetition
    *   filter → near-dup survivor → token-budget pack → parquet.
    *
    * Returns the per-stage funnel counts (row-count side stats, F14's
    * shape) — the observability a production curation run ships with.
    * Every predicate joins on the uniform doc_id key against the
    * already-shaped stage outputs, so the composed plan stays a chain
    * of narrow passes + keyed joins; the budget pack (a global window
    * on post-filter narrow rows) runs LAST, on the smallest set.
    *
    * Thresholds are parameters — a production curation run is tuned to
    * its corpus (the synthetic corpus's tiny vocabulary makes trigram
    * eval overlap near-universal, so "any shared shingle" would gut
    * it; a web corpus tolerates the strict default). */
  /** ONE flags table carrying every stage predicate per train doc —
    * each upstream query executes exactly once into the caller's
    * deliberate short-lived cache; naive per-stage `.count()`s would
    * re-run the shingle explodes and aggregations per count. Shared by
    * [[runCurationPipeline]] and [[curationFunnel]] so the gate query
    * counts EXACTLY what the pipeline executes. */
  private def curationFlags(spark: SparkSession, dir: String,
                            minSharedShingles: Int, minQuality: Double): DataFrame =
    splitAssign(spark, dir).filter(col("Split") === "train")
      .select(col("doc_id"))
      .join(decontaminate(spark, dir)
        .select(col("doc_id"),
          (col("NSharedShingles") < minSharedShingles).as("KeepClean")), "doc_id")
      .join(sampleStratified(spark, dir).select(col("doc_id"), col("IsSampled")), "doc_id")
      .join(TextOps.quality(spark, dir)
        .select(col("doc_id"), col("NTokens"), col("QualityScore")), "doc_id")
      .join(TextOps.repetition(spark, dir)
        .select(col("doc_id"), col("IsRepetitive")), "doc_id")
      .join(DedupOps.components(spark, dir).select(col("doc_id"), col("IsSurvivor")), "doc_id")
      .withColumn("KeepQuality",
        col("QualityScore") >= minQuality && !col("IsRepetitive"))

  /** The budget-pack stage over the funnel output: global
    * (quality desc, doc_id) order, running token sum capped at
    * `budget`. */
  private def packedDocs(flags: DataFrame, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("QualityScore").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    flags
      .filter(col("KeepClean") && col("IsSampled") && col("KeepQuality") && col("IsSurvivor"))
      .withColumn("CumTokens", sum(col("NTokens").cast(LongType)).over(w))
      .filter(col("CumTokens") <= budget)
  }

  def runCurationPipeline(spark: SparkSession, dir: String, outDir: String,
                          minSharedShingles: Int = ContaminationMinShingles,
                          minQuality: Double = MinQuality,
                          budget: Long = TokenBudget): Seq[(String, Long)] = {
    val flags = curationFlags(spark, dir, minSharedShingles, minQuality).cache()
    try {
      // cumulative funnel counts in ONE aggregate pass over the cache
      val f = flags.agg(
        count(lit(1)).as("train"),
        count(when(col("KeepClean"), 1)).as("clean"),
        count(when(col("KeepClean") && col("IsSampled"), 1)).as("sampled"),
        count(when(col("KeepClean") && col("IsSampled") && col("KeepQuality"), 1)).as("quality"),
        count(when(col("KeepClean") && col("IsSampled") && col("KeepQuality")
          && col("IsSurvivor"), 1)).as("survivors")).head()
      // budget pack over the funnel output (not the raw corpus)
      val packed = packedDocs(flags, budget)
      val out = packed
        .join(Tables.documents(spark, dir).select("doc_id", "text", "lang"), "doc_id")
        .select(col("doc_id"), col("text"), col("lang"),
          col("NTokens"), col("QualityScore"), col("CumTokens"))
      out.write.mode("overwrite").parquet(s"$outDir/curated_corpus")
      val packedCount = spark.read.parquet(s"$outDir/curated_corpus").count()
      Seq(
        "train" -> f.getAs[Long]("train"),
        "decontaminated" -> f.getAs[Long]("clean"),
        "sampled" -> f.getAs[Long]("sampled"),
        "quality_filtered" -> f.getAs[Long]("quality"),
        "dedup_survivors" -> f.getAs[Long]("survivors"),
        "budget_packed" -> packedCount)
    } finally flags.unpersist()
  }

  /** The pipeline's per-stage funnel as a GATE QUERY (round 8): one
    * row per stage with (StageNo, Stage, DocsIn, DocsOut), computed
    * from the SAME [[curationFlags]]/[[packedDocs]] definitions
    * [[runCurationPipeline]] executes — the DuckDB oracle recomposes
    * every stage mirror and must reproduce each count exactly, so the
    * composed pipeline (not just its stages in isolation) sits inside
    * the driver's correctness gate. The result is a 6-row driver-side
    * frame; all the work happens in the one cached flags pass + the
    * budget-pack window, exactly the pipeline's own cost. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flags = curationFlags(spark, dir, ContaminationMinShingles, MinQuality).cache()
    try {
      val total = Tables.documents(spark, dir).count()
      val f = flags.agg(
        count(lit(1)).as("train"),
        count(when(col("KeepClean"), 1)).as("clean"),
        count(when(col("KeepClean") && col("IsSampled"), 1)).as("sampled"),
        count(when(col("KeepClean") && col("IsSampled") && col("KeepQuality"), 1)).as("quality"),
        count(when(col("KeepClean") && col("IsSampled") && col("KeepQuality")
          && col("IsSurvivor"), 1)).as("survivors")).head()
      val packed = packedDocs(flags, TokenBudget).count()
      val (train, clean, sampled, quality, survivors) = (
        f.getAs[Long]("train"), f.getAs[Long]("clean"), f.getAs[Long]("sampled"),
        f.getAs[Long]("quality"), f.getAs[Long]("survivors"))
      Seq(
        (1, "train_split", total, train),
        (2, "decontaminate", train, clean),
        (3, "stratified_sample", clean, sampled),
        (4, "quality_filter", sampled, quality),
        (5, "dedup_survivors", quality, survivors),
        (6, "budget_pack", survivors, packed))
        .toDF("StageNo", "Stage", "DocsIn", "DocsOut")
        .orderBy(col("StageNo"))
    } finally flags.unpersist()
  }

  /** End-to-end corpus curation — the composite an LLM data pipeline
    * actually ships: keep a document iff it (a) survives near-dup
    * clustering (DedupOps.components canonical survivor), (b) is
    * predicted English by the marker heuristic, and (c) clears the
    * quality threshold. Emits the curated doc list with its token
    * budget.
    *
    * Scale shape: two narrow one-pass scores (token_stats native
    * expression) + the bounded label-propagation survivor set, joined
    * on uniform doc_id keys — the whole filter composes into one
    * pipeline with no extra shuffle beyond the dedup stage it reuses.
    * All scores are exact-integer ratios, so the DuckDB oracle
    * reproduces every comparison bit-for-bit (threshold included). */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .withColumn("TS", expr("token_stats(text)"))
      .select(col("doc_id"),
        col("TS.NTokens").as("NTokens"),
        col("TS.StopCount").as("StopCount"),
        col("TS.CEn").as("CEn"), col("TS.CEs").as("CEs"),
        col("TS.CDe").as("CDe"), col("TS.CFr").as("CFr"))
      .withColumn("QualityScore",
        TextOps.qualityScoreCol(col("NTokens"), col("StopCount")))
      .withColumn("Predicted",
        TextOps.predictedLangCol(col("CEn"), col("CEs"), col("CDe"), col("CFr")))
    val survivors = DedupOps.components(spark, dir)
      .filter(col("IsSurvivor")).select(col("doc_id"))
    scored.join(survivors, "doc_id")
      .filter(col("Predicted") === "en" && col("QualityScore") >= MinQuality)
      .select(col("doc_id"), col("NTokens"), col("QualityScore"))
      .orderBy(col("doc_id"))
  }

  /** Importance-resampling knobs: the target domain is the
    * [[DsirTargetSource]] slice; the top [[DsirTopK]] most
    * target-like candidate docs are selected. Shared with the
    * DuckDB mirror. */
  val DsirTargetSource = "src0"
  val DsirTopK = 100

  /** DATA SELECTION VIA IMPORTANCE RESAMPLING (DSIR — Xie et al.
    * 2023, re-expressed integer-exact): select from the general
    * corpus the documents most like a small TARGET domain, by
    * importance weight log(p_target(doc)/p_rest(doc)) under two
    * Laplace-smoothed unigram LMs sharing the corpus vocabulary.
    * The log-ratio is quantized to INTEGER BITS per term — weight =
    * Σ Tf·(restBits − targetBits) with each side's surprisal
    * `floor(log2((T+V) div (c+1)))` = `length(bin(r)) − 1` (the
    * langid/perplexity integer-surprisal discipline) — so both
    * engines agree bit-for-bit where a libm `ln` would drift, and
    * (weight desc, doc_id) is a total order.
    *
    * The paper hashes n-grams into buckets to bound the feature
    * space; here the feature space is the unigram vocabulary itself,
    * which the engine already materializes as the cached postings
    * substrate — the bucketing becomes unnecessary when the LM table
    * is a first-class vocab-scale artifact.
    *
    * Scale shape: LM training is ONE vocab-keyed aggregate over the
    * cached postings (map-side combined); scoring is the candidate
    * slice of the same postings joined to the vocab-scale bits table
    * on Term (AQE broadcasts when it fits) into a doc-keyed sum.
    * Nothing is corpus×corpus; the only new state is the (Term, BT,
    * BR) grid — the production "trained importance model" artifact. */
  def importanceResample(spark: SparkSession, dir: String): DataFrame = {
    val post = TextOps.docPostings(spark, dir)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val p = post.join(src, "doc_id")
      .withColumn("IsT", col("source") === DsirTargetSource)
    val termCnt = p.groupBy(col("Term")).agg(
      sum(when(col("IsT"), col("Tf").cast(LongType)).otherwise(0L)).as("CT"),
      sum(when(not(col("IsT")), col("Tf").cast(LongType)).otherwise(0L)).as("CR"))
    val tot = termCnt.agg(
      sum(col("CT")).as("TT"), sum(col("CR")).as("TR"),
      count(lit(1)).cast(LongType).as("V"))
    val bits = termCnt.crossJoin(broadcast(tot))
      .withColumn("BT", (length(expr("bin((TT + V) div (CT + 1))")) - 1).cast(IntegerType))
      .withColumn("BR", (length(expr("bin((TR + V) div (CR + 1))")) - 1).cast(IntegerType))
      .select(col("Term"), col("BT"), col("BR"))
    p.filter(not(col("IsT")))
      .join(bits, "Term")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("Tf").cast(LongType)).as("NTokens"),
        sum((col("Tf") * (col("BR") - col("BT"))).cast(LongType)).as("LogRatioBits"))
      .orderBy(col("LogRatioBits").desc, col("doc_id"))
      .limit(DsirTopK)
  }
}
