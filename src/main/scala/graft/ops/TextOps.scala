package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Substrates
import graft.etl.Tables

/** Text-analysis operators over `documents`: tokenization stats,
  * quality scoring, language-ID heuristic, content fingerprinting.
  *
  * Everything is built from codegen'd Catalyst higher-order functions
  * (transform/filter/aggregate over the token array) — no UDFs, so the
  * whole pipeline stays inside WholeStageCodegen and scales linearly
  * with one narrow pass over the documents (no shuffle at all except
  * final presentation sorts).
  *
  * Determinism: all scores are ratios of exact integer counts; hashes
  * are md5 (identical in DuckDB); token order is the document's own.
  */
object TextOps {

  /** Whitespace tokenizer (the engine's declared token semantics). */
  val toksSql = "split(trim(text), '\\\\s+')"

  /** 3-gram token shingles of a `Toks` array column (distinct). */
  val shinglesSql: String =
    """CASE WHEN size(Toks) >= 3 THEN array_distinct(transform(sequence(1, size(Toks) - 2),
      |  i -> concat(element_at(Toks, i), ' ', element_at(Toks, i + 1), ' ', element_at(Toks, i + 2))))
      |ELSE cast(array() as array<string>) END""".stripMargin

  /** Language marker stopword lists (shared with the oracle SQL). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von"),
    "fr" -> Seq("le", "les", "et", "des", "un", "une"))

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  private def sqlList(xs: Seq[String]): String = xs.map("'" + _ + "'").mkString(", ")

  /** THE quality-score formula (single definition — [[quality]] and
    * CurateOps.curate must never drift apart; the DuckDB mirrors
    * transcribe this expression). */
  def qualityScoreCol(nTokens: Column, stopCount: Column): Column =
    least(lit(1.0), nTokens.cast(DoubleType) / 200.0) *
      (lit(1.0) - stopCount.cast(DoubleType) / nTokens)

  /** THE marker-argmax language prediction with its fixed tie-break
    * order (single definition, shared with CurateOps.curate). */
  def predictedLangCol(cEn: Column, cEs: Column, cDe: Column, cFr: Column): Column =
    when(cEn >= greatest(cEs, cDe, cFr), "en")
      .when(cEs >= greatest(cDe, cFr), "es")
      .when(cDe >= cFr, "de")
      .otherwise("fr")

  /** All per-doc token stats via the one-pass native expression
    * (graft.functions.TokenStats) — same integers as the declarative
    * HOF form, ~20× less per-token interpretation overhead. */
  private def docsWithStats(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    Tables.documents(spark, dir).withColumn("TS", expr("token_stats(text)"))
  }

  /** Token counting: total / distinct / cumulative length (a whitespace
    * + regex "BPE-ish" proxy for token-budget accounting). */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    docsWithStats(spark, dir).select(
      col("doc_id"),
      col("TS.NTokens").as("NTokens"),
      col("TS.NDistinct").as("NDistinct"),
      col("TS.SumTokenLen").as("SumTokenLen"))
      .withColumn("AvgTokenLen",
        col("SumTokenLen").cast(DoubleType) / col("NTokens"))
      .orderBy(col("doc_id"))

  /** Quality scoring from length / stopword-ratio signals — every score
    * a deterministic function of integer counts. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    docsWithStats(spark, dir).select(
      col("doc_id"),
      length(col("text")).as("NChars"),
      col("TS.NTokens").as("NTokens"),
      col("TS.StopCount").as("StopCount"),
      col("TS.MaxTokenLen").as("MaxTokenLen"))
      .withColumn("StopRatio", col("StopCount").cast(DoubleType) / col("NTokens"))
      .withColumn("QualityScore", qualityScoreCol(col("NTokens"), col("StopCount")))
      .orderBy(col("doc_id"))

  /** Minimum token count for the [[qualityClassifier]] weak label. */
  val QcMinTokens = 20

  /** TRAINED QUALITY CLASSIFIER — a Bernoulli naive-Bayes-style
    * token-vote model DISTILLED from the heuristic quality rule (the
    * standard weak-supervision bootstrap: cheap rule labels the
    * corpus, a token model is trained on those labels, and the model
    * then generalizes to docs the rule scores ambiguously). The weak
    * label is the pure-integer form of [[quality]]'s signals: good ⟺
    * Dl ≥ [[QcMinTokens]] AND 2·StopTf ≤ Dl. Training counts, per
    * term, the GOOD and BAD document frequencies; a term votes good
    * iff its Laplace-smoothed class likelihood ratio favors good —
    * (g+1)(B+2) > (b+1)(G+2), the exact integer cross-multiply of
    * (g+1)/(G+2) > (b+1)/(B+2) (the NB-SVM "log-count ratio" sign,
    * Wang & Manning 2012, taken as a ±1 vote so no logs/doubles enter
    * the model). A doc's prediction is the majority vote over its
    * DISTINCT terms (Bernoulli presence semantics — one vote per
    * term, however often it repeats).
    *
    * Everything is exact integers end-to-end: labels, per-class df,
    * the vote rule, and the per-doc tallies — bit-identical across
    * engines. Int64 ceiling: the cross-multiply products are bounded
    * by (df+1)·(docs+2) < (docs+2)², overflowing long only past ~3e9
    * documents (promote to decimal(38,0) there — the pagerank rule).
    *
    * Scale shape: THREE passes over the memoized [[docPostings]]
    * substrate, nothing over raw text — (1) per-doc label aggregate
    * (doc-sized), (2) per-term class-df aggregate joined with the
    * broadcast 1-row prior (vocabulary-sized model — this IS the
    * trained artifact, persistable as a table), (3) the scoring pass:
    * postings ⋈ model on Term (vocab-scale build side) then a doc-
    * keyed vote tally. Docs with zero tokens have no postings rows
    * and drop out on both sides (documented contract, as with
    * [[docStats]]). */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val post = docPostings(spark, dir)
    val perDoc = post.groupBy(col("doc_id"), col("Dl"))
      .agg(sum(when(col("Term").isInCollection(stopwords), col("Tf"))
        .otherwise(0)).cast(LongType).as("StopTf"))
      .withColumn("Label",
        col("Dl") >= QcMinTokens && col("StopTf") * 2 <= col("Dl"))
      .select(col("doc_id"), col("Label"))
    val prior = perDoc.agg(
      sum(when(col("Label"), 1L).otherwise(0L)).as("G"),
      sum(when(!col("Label"), 1L).otherwise(0L)).as("B"))
    val model = post.select(col("doc_id"), col("Term"))
      .join(perDoc, "doc_id")
      .groupBy(col("Term"))
      .agg(sum(when(col("Label"), 1L).otherwise(0L)).as("Gw"),
        sum(when(!col("Label"), 1L).otherwise(0L)).as("Bw"))
      .crossJoin(broadcast(prior))
      .withColumn("Vote",
        when((col("Gw") + 1) * (col("B") + 2) > (col("Bw") + 1) * (col("G") + 2), 1)
          .when((col("Gw") + 1) * (col("B") + 2) < (col("Bw") + 1) * (col("G") + 2), -1)
          .otherwise(0))
      .select(col("Term"), col("Vote"))
    post.select(col("doc_id"), col("Term"))
      .join(model, "Term")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("Vote") === 1, 1L).otherwise(0L)).as("VotesGood"),
        sum(when(col("Vote") === -1, 1L).otherwise(0L)).as("VotesBad"))
      .join(perDoc, "doc_id")
      .withColumn("Predicted", col("VotesGood") > col("VotesBad"))
      .withColumn("Correct", col("Predicted") === col("Label"))
      .select(col("doc_id"), col("Label"), col("VotesGood"), col("VotesBad"),
        col("Predicted"), col("Correct"))
      .orderBy(col("doc_id"))
  }

  /** CORPUS NOVELTY — per doc, the fraction of its distinct trigram
    * shingles whose FIRST appearance (min doc_id — the corpus's
    * canonical ingestion order) is this doc. Mostly-derivative docs
    * (near-dup copies, template-heavy boilerplate) score near 0, the
    * complement signal to the dup detectors, and the weight
    * novelty-biased sampling runs on. Shares the dedup family's
    * shingle definition (`token_shingles`, distinct per doc), so the
    * mirror transcribes the same windows.
    *
    * Scale shape: one shingle explode, one shingle-keyed min aggregate
    * (uniform keys — the same distribution the LSH band join rides),
    * one doc aggregate, a zero-fill left join. No pair join, no
    * super-linear term. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    val sh = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(expr("token_shingles(text, 3)")).as("Sh"))
    val first = sh.groupBy(col("Sh")).agg(min(col("doc_id")).as("FirstDoc"))
    val agg = sh.join(first, "Sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("NShingles"),
        sum(when(col("FirstDoc") === col("doc_id"), 1L).otherwise(0L)).as("NNovel"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("NShingles"), lit(0L)).as("NShingles"),
        coalesce(col("NNovel"), lit(0L)).as("NNovel"))
      .withColumn("NoveltyFrac",
        when(col("NShingles") === 0, lit(0.0))
          .otherwise(col("NNovel").cast(DoubleType) / col("NShingles")))
      .orderBy(col("doc_id"))
  }

  /** TRAINED language-ID — the Cavnar–Trenkle char-trigram model as
    * the corpus-trained companion to the fixed marker heuristic
    * ([[langid]]), and the engine's per-CLASS LM classifier shape
    * (naive-Bayes decision): per-language trigram profiles are
    * learned from the labeled corpus, every doc is scored against
    * every profile with the same Laplace integer-surprisal bits as
    * [[perplexity]] (`len(bin((T_l+V) div (c_l+1))) - 1` — all
    * integer arithmetic, bit-identical in DuckDB), predicted = argmin
    * total bits with lexicographic tie-break. Languages come from the
    * data (distinct labels), so an unseen-label corpus needs no code
    * change — zh is covered here where the marker heuristic cannot be.
    *
    * Honesty note: the FIXTURE corpus draws every language from ONE
    * shared vocabulary, so its gate row verifies the train→score
    * MECHANISM (profile table, broadcast grid, argmin decision), not
    * classification. Accuracy IS measured — OpsSpec runs this
    * classifier over scripts/gen_scale_corpus.py corpora (which plant
    * a distinct per-language orthography) at two decades and asserts
    * ≥0.9 accuracy beating the label prior; PERFORMANCE.md records
    * the measured numbers.
    *
    * Scale shape: the profile grid is (vocab × #langs) — vocab-scale,
    * broadcast, and since round 10 a memoized substrate
    * ([[langidModel]]: train once per corpus snapshot, score per
    * query); training is one explode+agg pass on first touch; scoring
    * is one explode joined to the broadcast grid, aggregated on
    * (doc, lang) — #langs·n rows through a combinable sum. Nothing is
    * corpus×corpus. */
  def langidTrained(spark: SparkSession, dir: String): DataFrame = {
    val (grid, totals) = langidModel(spark, dir)
    // scoring re-derives the corpus trigram pass per execution: dtri
    // is corpus-scale, and pinning it starves execution memory on
    // small heaps (measured OOM at 500k docs under a 4 GiB driver) —
    // a streaming pass against the broadcast MODEL is the safe shape
    val dtri = langTrigrams(spark, dir)
    val scores = dtri.select(col("doc_id"), col("Tri"), col("M"))
      .join(broadcast(grid), "Tri")
      .groupBy(col("doc_id"), col("PLang"))
      .agg(sum(col("M") * col("Bits")).as("TotalBits"))
    // zero-fill: a doc with no ≥3-char tokens scores 0 for every lang
    // and resolves purely on the tie-break — still deterministic
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(totals.select(col("lang").as("PLang"))))
    base.join(scores, Seq("doc_id", "PLang"), "left")
      .withColumn("TotalBits", coalesce(col("TotalBits"), lit(0L)))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct(col("TotalBits"), col("PLang"))).as("mn"))
      .select(col("doc_id"), col("lang").as("ActualLang"),
        col("mn.PLang").as("Predicted"), col("mn.TotalBits").as("PredictedBits"),
        (col("mn.PLang") === col("lang")).as("IsMatch"))
      .orderBy(col("doc_id"))
  }

  /** N-gram-marker language-ID heuristic: count hits against per-lang
    * marker lists, argmax with a fixed preference order for ties. */
  def langid(spark: SparkSession, dir: String): DataFrame =
    docsWithStats(spark, dir)
      .select(col("doc_id"), col("lang"),
        col("TS.CEn").as("CEn"), col("TS.CEs").as("CEs"),
        col("TS.CDe").as("CDe"), col("TS.CFr").as("CFr"))
      .withColumn("Predicted",
        predictedLangCol(col("CEn"), col("CEs"), col("CDe"), col("CFr")))
      .select(col("doc_id"), col("CEn"), col("CEs"), col("CDe"), col("CFr"),
        col("Predicted"), col("lang").as("ActualLang"),
        (col("Predicted") === col("lang")).as("IsMatch"))
      .orderBy(col("doc_id"))

  /** Repetition-filter thresholds (Gopher-style): a doc is flagged when
    * more than this fraction of its bigrams are duplicates, or any
    * single token exceeds this fraction of all tokens. */
  val MaxDupBigramFrac = 0.2
  val MaxTopTokenFrac = 0.2

  /** Gopher-style REPETITION quality filter: the duplicate-bigram
    * fraction and the most-frequent-token share, the two cheapest
    * signals that catch boilerplate / keyword-stuffed / looping text
    * that plain length+stopword scoring misses.
    *
    * Scale shape: the bigram stats are one narrow HOF pass; the
    * top-token count goes through explode → two-level hash agg on
    * (doc_id, token) → doc_id — the distributed shape — rather than a
    * per-doc O(tokens × distinct) nested HOF scan, which would blow up
    * quadratically on book-length documents. Both halves join back on
    * the uniform doc_id key. All fractions are IEEE divisions of exact
    * integer counts, so the DuckDB oracle reproduces every comparison
    * (thresholds included) bit-for-bit. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("Toks", expr(toksSql))
    // NON-distinct bigrams — repetition is exactly what distinct erases.
    val bigram = docs.select(col("doc_id"), col("Toks"))
      .withColumn("Bigrams", expr(
        """CASE WHEN size(Toks) >= 2 THEN transform(sequence(1, size(Toks) - 1),
          |  i -> concat(element_at(Toks, i), ' ', element_at(Toks, i + 1)))
          |ELSE cast(array() as array<string>) END""".stripMargin))
      .select(col("doc_id"),
        size(col("Toks")).as("NTokens"),
        size(col("Bigrams")).as("NBigrams"),
        size(array_distinct(col("Bigrams"))).as("NDistinctBigrams"))
    val topTok = docs.select(col("doc_id"), explode(col("Toks")).as("Tok"))
      .groupBy(col("doc_id"), col("Tok")).agg(count(lit(1)).as("C"))
      .groupBy(col("doc_id")).agg(max(col("C")).cast(IntegerType).as("TopTokenCount"))
    bigram.join(topTok, "doc_id")
      .withColumn("DupBigramFrac",
        when(col("NBigrams") === 0, lit(0.0)).otherwise(
          (col("NBigrams") - col("NDistinctBigrams")).cast(DoubleType) / col("NBigrams")))
      .withColumn("TopTokenFrac",
        col("TopTokenCount").cast(DoubleType) / col("NTokens"))
      .withColumn("IsRepetitive",
        col("DupBigramFrac") > MaxDupBigramFrac || col("TopTokenFrac") > MaxTopTokenFrac)
      .orderBy(col("doc_id"))
  }

  /** Terms surfaced per document by [[tfidf]]. */
  val TfidfTopK = 3

  /** TF-IDF top terms: corpus document frequency per token, each doc's
    * top-[[TfidfTopK]] tokens by `tf · N / df` (the log-free rational
    * idf — monotone in 1/df, and exact: an integer product over an
    * integer divisor reproduces bit-for-bit in any IEEE engine, where
    * `ln` would be at the mercy of each engine's libm).
    *
    * Scale shape: ONE explode → partial-agg on (doc_id, token); the
    * per-token df then comes from a `count(*) over (partition by
    * Token)` window on those tf rows — each row is a distinct
    * (doc, token) pair, so the partition count IS the document
    * frequency. A separate `tf.groupBy(Token)` df table would read
    * cleaner but plans as a second full explode+agg of the corpus
    * (DataFrame diamonds don't share subplans); the window keeps the
    * heavy pass single. The per-doc top-k rank then executes as
    * WindowGroupLimit (plan-asserted in PlanSpec), never a full sort
    * of all token rows. The corpus size N rides along as a broadcast
    * single-row crossJoin (the A13 grand-total pattern), never a
    * driver action. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf IS the postings substrate (round 10): same (doc, token, count)
    // values the per-query explode produced, read from the one cached
    // inverted index the whole retrieval family shares
    val tf = docPostings(spark, dir)
      .select(col("doc_id"), col("Term").as("Token"), col("Tf"))
    val n = docStats(spark, dir).select(col("NDocs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("Score").desc, col("Token").asc)
    tf.withColumn("Df",
        count(lit(1)).over(Window.partitionBy(col("Token"))).cast(IntegerType))
      .crossJoin(broadcast(n))
      .withColumn("Score",
        (col("Tf") * col("NDocs")).cast(DoubleType) / col("Df"))
      .withColumn("Rank", row_number().over(w))
      .filter(col("Rank") <= TfidfTopK)
      .select(col("doc_id"), col("Token"), col("Tf"), col("Df"),
        col("Score"), col("Rank"))
      .orderBy(col("doc_id"), col("Rank"))
  }

  /** Shared PII regexes — one definition drives both the Spark plan and
    * the DuckDB oracle, and both dialects (java.util.regex, RE2) parse
    * them identically. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+1-555-[0-9]{4}"

  /** PII REDACTION: count and mask email / phone patterns. The
    * synthetic corpus contains no organic PII (no digits or '@' at
    * all), so the query PLANTS a deterministic contact line per doc —
    * an email on ids ≢ 0 (mod 3), a phone on even ids — then runs the
    * real redaction over it; the zero/one/two-hit mix exercises every
    * branch. The operator itself ([[redactPii]]) is corpus-agnostic.
    *
    * Scale shape: one narrow codegen pass (regexp_count /
    * regexp_replace), no shuffle; the output carries md5 + length of
    * the redacted text rather than the text itself. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir)
      .withColumn("Planted", concat(
        col("text"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(""),
        when(col("doc_id") % 2 === 0,
          concat(lit(" call +1-555-"), lpad(col("doc_id") % 10000, 4, "0")))
          .otherwise("")))
    redactPii(planted, col("Planted"))
      .select(col("doc_id"), col("NEmails"), col("NPhones"),
        md5(col("Redacted")).as("RedactedHash"),
        length(col("Redacted")).as("NRedactedChars"))
      .orderBy(col("doc_id"))
  }

  /** The reusable redaction transform: counts then masks, emails before
    * phones (the patterns are disjoint, so order only matters for
    * documentation). */
  def redactPii(df: DataFrame, text: Column): DataFrame =
    df.withColumn("NEmails", regexp_count(text, lit(EmailRe)))
      .withColumn("NPhones", regexp_count(text, lit(PhoneRe)))
      .withColumn("Redacted",
        regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"))

  /** CORPUS PROFILING — the dataset-card numbers: per-language doc
    * counts, token totals, exact median doc length, mean quality, and
    * corpus share. The numbers a data engineer checks before and after
    * every curation change.
    *
    * Determinism rules (the Summaries playbook): the quality mean sums
    * `floor(Q·1e9)` LONGS — exact and order-independent under any
    * partitioning/AQE re-plan, where a raw double sum would drift with
    * shuffle order and a double→decimal cast would hang on each
    * engine's tie-rounding; `floor` of the identical IEEE double is
    * unambiguous everywhere (quantization error ≤ 1e-9, documented).
    * The median is Spark's exact `percentile` (the (n-1)·p + 1
    * interpolation rule, identical to DuckDB's `quantile_cont`);
    * shares are ratios of exact counts via the empty-frame window on
    * the 5 POST-AGGREGATION rows (A13 grand-total pattern — never a
    * second scan). One narrow token_stats pass + one hash agg on the
    * low-cardinality lang key. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.TextExpressions.register(spark)
    val scored = Tables.documents(spark, dir)
      .withColumn("TS", expr("token_stats(text)"))
      .select(col("lang"),
        col("TS.NTokens").as("NTokens"),
        col("TS.StopCount").as("StopCount"))
      .withColumn("Q", qualityScoreCol(col("NTokens"), col("StopCount")))
    scored.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("NDocs"),
        sum(col("NTokens").cast(LongType)).as("SumTokens"),
        expr("percentile(NTokens, 0.5)").as("MedianTokens"),
        (sum(floor(col("Q") * 1e9).cast(LongType)).cast(DoubleType)
          / count(lit(1)) / 1e9).as("AvgQuality"))
      .withColumn("ShareOfDocs",
        col("NDocs").cast(DoubleType) /
          sum(col("NDocs")).over(Window.partitionBy()))
      .orderBy(col("lang"))
  }

  /** Hash functions per corpus-level MinHash signature
    * ([[sourceSimilarity]]) — ALSO read by the DuckDB mirror. */
  val SourceSimHashes = 16

  /** Content-defined chunking (CDC) parameters — ALSO read by the
    * DuckDB mirror (ExtSql.chunkCte). A cut is declared after any
    * [[ChunkWindow]]-codepoint window whose Rabin-style hash
    * (Σ cp·Bᵂ⁻¹⁻ʲ mod [[ChunkMod]]) is ≡ 0 mod [[ChunkDivisor]] —
    * boundaries depend on CONTENT, not position, so an insertion
    * re-chunks only its neighborhood (expected chunk ≈ Divisor + W/2
    * chars). Stateless on purpose: production CDC adds min/max chunk
    * bounds, but those make each boundary depend on the previous one
    * and the declarative SQL mirror with them is a recursive query —
    * the stateless rule keeps Spark and DuckDB bit-identical. */
  val ChunkWindow = 8
  val ChunkBase = 257L
  val ChunkMod = 1000000007L
  val ChunkDivisor = 64L
  /** B^(W-1-j) mod M for j = 0..W-1 (shared with the oracle). */
  val ChunkPows: Seq[Long] = (0 until ChunkWindow).map(j =>
    BigInt(ChunkBase).modPow(BigInt(ChunkWindow - 1 - j), BigInt(ChunkMod)).toLong)
  /** Minimum shared-chunk fraction for [[DedupOps.chunkOverlap]]. */
  val MinChunkOverlap = 0.5

  /** Chunk-hash occupancy above which a chunk is treated as
    * BOILERPLATE and excluded from the containment self-join — the
    * chunk-domain mirror of DedupOps.HotBandMaxOccupancy, added after
    * the round-8 100× rehearsal measured the uncapped join at α 1.92
    * (a chunk shared by k docs contributes k(k−1)/2 pairs; at 500k
    * docs common boilerplate chunks made the pair volume quadratic).
    * A chunk that recurs across hundreds of documents is shared
    * template/boilerplate content, not copy evidence — near-dup pairs
    * still collide on their other (rarer) chunks, exactly the hot-band
    * argument. Shared with the DuckDB mirror, so the cap is part of
    * the query definition. */
  val HotChunkMaxOccupancy = 256

  /** Corpus-level source-vs-source vocabulary similarity — the
    * DECLARED 100 TB path: estimated shingle-set Jaccard between every
    * source pair from [[SourceSimHashes]]-function MinHash signatures,
    * and nothing else. The plan touches the corpus exactly once.
    *
    * The signature is the mergeable one-pass shape that matters at
    * 100 TB: per source, H independent `min(md5(h|shingle))` aggregates
    * over its distinct shingles — H·|sources| strings of state, built
    * in the same partial-aggregated pass as the set sizes, mergeable
    * across any partitioning (min is associative-commutative). There
    * is NO shingle-keyed self-join anywhere in this query (PlanSpec
    * asserts it): the `Σ df²` exact-intersection side lives in
    * [[sourceSimilarityCalibrate]], so the production query is
    * runnable AS DECLARED, not derived by editing a select list.
    *
    * The pairwise frame is |sources|² — aggregate-scale, not
    * data-scale; its crossJoin is the same bounded
    * BroadcastNestedLoopJoin as the IVF codebook. Estimates are exact
    * fractions of integer agreement counts; both engines compute
    * identical md5 strings, so the whole row hash-matches. */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val (left, right) = sourceSignaturePair(spark, dir)
    left.crossJoin(right).filter(col("A_source") < col("B_source"))
      .select(
        col("A_source").as("SA"), col("B_source").as("SB"),
        col("A_NSh").as("NShA"), col("B_NSh").as("NShB"),
        (sigAgreement.cast(DoubleType) / lit(SourceSimHashes.toDouble)).as("EstJaccard"))
      .transform(graft.etl.Summaries.smallSort(_, col("SA"), col("SB")))
  }

  /** Calibration twin of [[sourceSimilarity]]: the same signature
    * estimate ALONGSIDE the exact pairwise Jaccard, whose
    * shingle-keyed self-join (`Σ df²` candidate rows over per-source
    * distinct shingles) is the expensive side the sketch replaces.
    * Run this one at sample scale to measure the estimate's error on
    * YOUR corpus before trusting the declared query's numbers — the
    * standard sketch-calibration workflow, expressed as its own query
    * instead of a select-list edit of the production one. */
  def sourceSimilarityCalibrate(spark: SparkSession, dir: String): DataFrame = {
    val sh = DedupOps.sourceShingles(spark, dir)
    val (left, right) = sourceSignaturePair(spark, dir)
    val inter = sh.select(col("source").as("IA"), col("Shingle"))
      .join(sh.select(col("source").as("IB"), col("Shingle")), "Shingle")
      .filter(col("IA") < col("IB"))
      .groupBy(col("IA"), col("IB"))
      .agg(count(lit(1)).as("NShared"))
    left.crossJoin(right).filter(col("A_source") < col("B_source"))
      .join(inter,
        col("A_source") === col("IA") && col("B_source") === col("IB"), "left")
      .select(
        col("A_source").as("SA"), col("B_source").as("SB"),
        col("A_NSh").as("NShA"), col("B_NSh").as("NShB"),
        coalesce(col("NShared"), lit(0L)).as("NShared"),
        (coalesce(col("NShared"), lit(0L)).cast(DoubleType) /
          (col("A_NSh") + col("B_NSh") - coalesce(col("NShared"), lit(0L)))
            .cast(DoubleType)).as("ExactJaccard"),
        (sigAgreement.cast(DoubleType) / lit(SourceSimHashes.toDouble)).as("EstJaccard"))
      .transform(graft.etl.Summaries.smallSort(_, col("SA"), col("SB")))
  }

  /** The A_/B_-prefixed copies of the per-source signature table
    * (source, NSh, H1..HH) for the pairwise frame. */
  private def sourceSignaturePair(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sh = DedupOps.sourceShingles(spark, dir)
    val aggCols = (count(lit(1)).as("NSh") +:
      (1 to SourceSimHashes).map(h =>
        min(md5(concat_ws("|", lit(h.toString), col("Shingle")))).as(s"H$h"))).toSeq
    val sig = sh.groupBy(col("source")).agg(aggCols.head, aggCols.tail: _*)
    (sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"A_$c")),
      sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"B_$c")))
  }

  /** Count of agreeing signature components between the A_ and B_
    * sides — the MinHash Jaccard estimator's numerator. */
  private def sigAgreement: Column =
    (1 to SourceSimHashes)
      .map(h => when(col(s"A_H$h") === col(s"B_H$h"), 1).otherwise(0))
      .reduce(_ + _)

  /** Cross-source distinct-shingle overlap CARDINALITY from
    * per-source KMV sketches — the set-operation complement of
    * [[sourceSimilarity]]: MinHash signatures estimate the Jaccard
    * RATIO; the KMV (theta-style) form estimates |A ∩ B| and |A ∪ B|
    * as COUNTS. "How many distinct shingles would cross-source dedup
    * remove" is a cardinality question a ratio cannot answer without
    * the set sizes, and KMV sketches compose under union (merge =
    * set-union-then-trim, any order) where MinHash signatures give no
    * counts at all.
    *
    * Estimator (Beyer et al. 2007 / the theta-sketch intersection
    * rule): the k smallest hashes of A ∪ B are exactly the k smallest
    * of sketch(A) ∪ sketch(B) (any union value below the union's kth
    * order statistic is below its own source's kth), so with
    * U = bottom-k(KsA ∪ KsB), θ = max(U):
    * |A ∪ B| ≈ (k−1)·2⁴⁸/θ, and |A ∩ B| ≈ (m/k)·|A ∪ B| where
    * m = |{v ∈ U : v ∈ KsA ∧ v ∈ KsB}| (membership in the SKETCH
    * equals membership in the full set for v ≤ θ, by the same order
    * argument). m is Binomial(k, ·), so the estimate's own quantum is
    * |A ∪ B|est/k and its CI half-width ~ quantum·√m — the ErrOk
    * column certifies |est − exact| ≤ 4·quantum·√(m+1), the bound a
    * mixture planner should actually trust (a flat relative bound is
    * dishonest at small overlaps, where m is single-digit Poisson).
    *
    * Scale shape: the sketch side is ONE pass over the memoized
    * distinct (source, shingle) substrate — per-source state is k
    * longs, mergeable across any partitioning; the pairwise frame is
    * |sources|² k-length arrays, aggregate-scale. The ExactOverlap
    * column (a shingle-hash self-join) is the GATE CERTIFICATE, same
    * as [[graft.ops.RelationalOps.kmvDistinct]]'s ExactDistinct — the
    * declared 100 TB output is the sketch columns, runnable without
    * it. Overlap is counted in the 48-bit md5-prefix space on BOTH
    * sides (collisions are 2⁻⁴⁸-class and identical in the mirror). */
  def sourceOverlapKmv(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapPairs(DedupOps.sourceShingleHashes(spark, dir))

  /** THE 48-bit shingle-hash definition for the KMV overlap family —
    * single site, shared by the batch substrate and the streaming
    * twin's per-batch kernel (the shingleKeysSql lesson: two spellings
    * of one key definition eventually disagree). Mirrors
    * ExtSql.hex48(md5(shingle)). */
  private[graft] def shingleHashCol(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 12), 16, 10).cast(LongType)

  /** Per-source KMV sketch over a (source, V) frame. Input need NOT
    * be distinct — the sketch dedups internally — which is what makes
    * it per-batch composable: bottom-k of a union of bottom-ks IS the
    * bottom-k of the union (the streaming twin's merge step). */
  private[graft] def kmvSketchOf(rows: DataFrame): DataFrame = {
    graft.functions.SketchAggregates.register(rows.sparkSession)
    rows.groupBy(col("source"))
      .agg(expr(s"kmv_kmin(V, ${graft.ops.RelationalOps.KmvK})").as("Ks"))
  }

  /** The theta-estimate pair math over per-source sketch rows —
    * single definition under BOTH the batch query (which joins the
    * exact certificate on top) and the streaming twin (which emits
    * these columns as the declared production output). Input columns
    * survive A_/B_-prefixed for the caller's select. */
  private[graft] def kmvPairEstimates(srcs: DataFrame): DataFrame = {
    val k = graft.ops.RelationalOps.KmvK
    val pow48 = 281474976710656.0 // 2^48: hash prefix → (0,1) scale
    val dUnion = (k - 1).toDouble * pow48 // 255·2⁴⁸ — exact in double
    val cInter = dUnion / k // 255·2⁴⁰ — exact in double
    val a = srcs.columns.foldLeft(srcs)((d, c) => d.withColumnRenamed(c, s"A_$c"))
    val b = srcs.columns.foldLeft(srcs)((d, c) => d.withColumnRenamed(c, s"B_$c"))
    a.crossJoin(b).filter(col("A_source") < col("B_source"))
      .withColumn("SA", col("A_source"))
      .withColumn("SB", col("B_source"))
      .withColumn("U",
        slice(array_sort(array_distinct(concat(col("A_Ks"), col("B_Ks")))), 1, k))
      .withColumn("Sz", size(col("U")))
      .withColumn("Kth", array_max(col("U")))
      .withColumn("Matched", size(filter(col("U"),
        v => array_contains(col("A_Ks"), v) && array_contains(col("B_Ks"), v))))
      .withColumn("EstUnion", when(col("Sz") >= k,
        lit(dUnion) / col("Kth").cast(DoubleType))
        .otherwise(col("Sz").cast(DoubleType)))
      .withColumn("EstOverlap", when(col("Sz") >= k,
        col("Matched").cast(DoubleType) * lit(cInter) /
          col("Kth").cast(DoubleType))
        .otherwise(col("Matched").cast(DoubleType)))
  }

  /** Directional source DIFFERENCE / containment estimates from the
    * SAME per-source KMV sketches as [[sourceOverlapKmv]] (round 15 —
    * the source-subsumption question overlap alone cannot answer:
    * "is source A mostly contained in B, or do they just share a
    * slice?"). For each pair, the union's bottom-k keys are split by
    * side membership — InA/InB — and the theta scale-up prices
    * |A\B|, |B\A| exactly like the overlap (count · (k−1)/k / θ);
    * per-source cardinalities come from each source's OWN sketch
    * (kth smallest of its bottom-k), so ContainAB = Est(A∩B)/Est(A)
    * is a pure sketch-domain statistic. The whole-corpus exact
    * certificate reuses the overlap's intersection join:
    * exact|A\B| = N_A − exact∩ (no new join shape), with the same
    * 4·quantum·√(count+1) CI certificate per direction. Identity the
    * spec pins: EstAOnly + EstBOnly + EstOverlap = EstUnion (the
    * three-way split of the union's bottom-k is exhaustive).
    * One pass over the distinct (source, hash) substrate; pair frame
    * is sketch-scale. */
  def sourceDifferenceKmv(spark: SparkSession, dir: String): DataFrame =
    kmvDifferencePairs(DedupOps.sourceShingleHashes(spark, dir))

  /** The sketch-only layer of the difference pair math, over
    * per-source sketch rows (`source`, `Ks`, optionally more — all
    * columns survive A_/B_-prefixed like [[kmvPairEstimates]]):
    * side-membership splits of the union bottom-k, own-sketch
    * cardinalities, directional difference estimates and containments.
    * Everything here derives from the SKETCHES alone, which is what
    * lets the streaming twin emit these columns from its maintained
    * sketch table; the batch query layers the whole-corpus exact
    * certificate on top. Internal columns (U/Sz/Kth/Matched/InA/InB/
    * EstUnion/EstOverlap + prefixed inputs) are kept for that layer —
    * callers select their declared output. */
  private[graft] def kmvDifferenceEstimates(srcs: DataFrame): DataFrame = {
    val k = graft.ops.RelationalOps.KmvK
    val pow48 = 281474976710656.0
    val dUnion = (k - 1).toDouble * pow48
    val cInter = dUnion / k
    // own-sketch cardinality: bottom-k full ⇒ (k−1)·2⁴⁸/kth, else the
    // sketch IS the set (exact count) — mirrors EstUnion's two branches
    def estOf(ks: Column): Column =
      when(size(ks) >= k, lit(dUnion) / array_max(ks).cast(DoubleType))
        .otherwise(size(ks).cast(DoubleType))
    // theta scale-up of a union-bottom-k side count — the EstOverlap
    // arithmetic verbatim (operation order mirrored in the oracle)
    def scaled(cnt: Column): Column =
      when(col("Sz") >= k,
        cnt.cast(DoubleType) * lit(cInter) / col("Kth").cast(DoubleType))
        .otherwise(cnt.cast(DoubleType))
    kmvPairEstimates(srcs)
      .withColumn("InA", size(filter(col("U"),
        v => array_contains(col("A_Ks"), v))))
      .withColumn("InB", size(filter(col("U"),
        v => array_contains(col("B_Ks"), v))))
      .withColumn("EstA", estOf(col("A_Ks")))
      .withColumn("EstB", estOf(col("B_Ks")))
      .withColumn("EstAOnly", scaled(col("InA") - col("Matched")))
      .withColumn("EstBOnly", scaled(col("InB") - col("Matched")))
      .withColumn("ContainAB", col("EstOverlap") / col("EstA"))
      .withColumn("ContainBA", col("EstOverlap") / col("EstB"))
  }

  /** The estimate-only difference columns — the streaming twin's
    * declared production output (an ingestion stream cannot certify
    * against the whole corpus it has not seen). */
  private[graft] val DifferenceEstimateCols: Seq[String] = Seq(
    "SA", "SB", "EstA", "EstB", "EstAOnly", "EstBOnly",
    "ContainAB", "ContainBA")

  /** The pair math of [[sourceDifferenceKmv]] over any (source, V)
    * distinct-hash frame: [[kmvDifferenceEstimates]] plus the
    * whole-corpus exact certificates. */
  private[graft] def kmvDifferencePairs(hs: DataFrame): DataFrame = {
    val spark = hs.sparkSession
    graft.functions.SketchAggregates.register(spark)
    val k = graft.ops.RelationalOps.KmvK
    val srcs = hs.groupBy(col("source"))
      .agg(count(lit(1)).as("N"), expr(s"kmv_kmin(V, $k)").as("Ks"))
    val exact = hs.select(col("source").as("SA"), col("V"))
      .join(hs.select(col("source").as("SB"), col("V")), "V")
      .filter(col("SA") < col("SB"))
      .groupBy(col("SA"), col("SB"))
      .agg(count(lit(1)).as("ExactOverlap"))
    def errOk(est: Column, ex: Column, cnt: Column): Column =
      abs(est - ex.cast(DoubleType)) <=
        lit(4.0) * (col("EstUnion") / lit(k.toDouble)) *
          sqrt(cnt.cast(DoubleType) + lit(1.0))
    kmvDifferenceEstimates(srcs)
      .join(exact, Seq("SA", "SB"), "left")
      .withColumn("ExactOverlap", coalesce(col("ExactOverlap"), lit(0L)))
      .withColumn("ExactAOnly", col("A_N") - col("ExactOverlap"))
      .withColumn("ExactBOnly", col("B_N") - col("ExactOverlap"))
      .withColumn("ErrOkA",
        errOk(col("EstAOnly"), col("ExactAOnly"), col("InA") - col("Matched")))
      .withColumn("ErrOkB",
        errOk(col("EstBOnly"), col("ExactBOnly"), col("InB") - col("Matched")))
      .select(col("SA"), col("SB"), col("EstA"), col("EstB"),
        col("EstAOnly"), col("EstBOnly"),
        col("ExactAOnly"), col("ExactBOnly"),
        col("ContainAB"), col("ContainBA"), col("ErrOkA"), col("ErrOkB"))
      .transform(graft.etl.Summaries.smallSort(_, col("SA"), col("SB")))
  }

  /** The pair math of [[sourceOverlapKmv]] over any (source, V)
    * distinct-hash frame (spec entry point: plant known value sets,
    * check the estimator against hand-computed order statistics). */
  private[graft] def kmvOverlapPairs(hs: DataFrame): DataFrame = {
    val spark = hs.sparkSession
    graft.functions.SketchAggregates.register(spark)
    val k = graft.ops.RelationalOps.KmvK
    val srcs = hs.groupBy(col("source"))
      .agg(count(lit(1)).as("N"), expr(s"kmv_kmin(V, $k)").as("Ks"))
    val exact = hs.select(col("source").as("SA"), col("V"))
      .join(hs.select(col("source").as("SB"), col("V")), "V")
      .filter(col("SA") < col("SB"))
      .groupBy(col("SA"), col("SB"))
      .agg(count(lit(1)).as("ExactOverlap"))
    kmvPairEstimates(srcs)
      .join(exact, Seq("SA", "SB"), "left")
      .withColumn("ExactOverlap", coalesce(col("ExactOverlap"), lit(0L)))
      .withColumn("ErrOk",
        abs(col("EstOverlap") - col("ExactOverlap").cast(DoubleType)) <=
          lit(4.0) * (col("EstUnion") / lit(k.toDouble)) *
            sqrt(col("Matched").cast(DoubleType) + lit(1.0)))
      .select(col("SA"), col("SB"),
        col("A_N").as("NShA"), col("B_N").as("NShB"),
        col("ExactOverlap"), col("EstUnion"), col("EstOverlap"), col("ErrOk"))
      .transform(graft.etl.Summaries.smallSort(_, col("SA"), col("SB")))
  }

  /** Content-defined chunk fingerprints — the rolling-hash
    * counterpart of [[fingerprint]]: per doc, the chunk count, the
    * distinct-chunk count, and a stable set digest (md5 of the sorted
    * distinct chunk hashes). Because boundaries are content-defined
    * (TextOps.Chunk* scaladoc), an edit perturbs only the chunks
    * around it — the digest of a lightly edited document shares most
    * chunk hashes with the original, which is what makes
    * [[DedupOps.chunkOverlap]]'s substring-level containment
    * detection work where token-shingle Jaccard dilutes. Rides the
    * memoized chunk substrate (DedupOps.docChunks). */
  def chunks(spark: SparkSession, dir: String): DataFrame =
    DedupOps.docChunks(spark, dir)
      .select(col("doc_id"), col("NChunks"), col("NDistinctChunks"),
        md5(concat_ws(" ", array_sort(col("Chs")))).as("ChunksetMd5"))
      .orderBy(col("doc_id"))

  /** Number of merge operations [[bpeVocab]] learns. Small enough
    * that the unrolled DuckDB mirror stays tractable; large enough
    * that the learned table exercises multi-character merges merging
    * into still-larger units (merges of merges appear well before
    * step 30 on natural text). */
  val BpeMerges = 30

  /** BPE vocabulary LEARNING (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units") — the tokenizer-
    * training half of the token-counting story: learn the first
    * [[BpeMerges]] byte-pair merges from the corpus and return the
    * merge table `(Step, A, B, Merged, PairCount)`.
    *
    * Semantics (the reference learn_bpe algorithm, word-internal):
    * words are the engine's whitespace tokens; each word starts as its
    * character sequence; per step, the most frequent adjacent symbol
    * pair — counted per POSITION, weighted by word frequency, ties
    * broken (PairCount desc, A, B) — is merged LEFT-TO-RIGHT
    * NON-OVERLAPPING in every word. No end-of-word marker: merges
    * never cross word boundaries, and the marker is a representation
    * choice orthogonal to the algorithm.
    *
    * Representation trick shared verbatim with the DuckDB mirror:
    * a segmentation is the word's symbols each TERMINATED by a tab
    * (tokens cannot contain whitespace by construction, so the
    * delimiter is injective), and applying a merge is ONE
    * `replace(seg, A+TAB+B+TAB, AB+TAB)` — because every symbol
    * occurrence carries its own terminator, string-level
    * non-overlapping left-to-right replacement coincides exactly with
    * symbol-level BPE application (a space-JOINED form does not: a
    * match consumes the next occurrence's leading delimiter and
    * diverges on runs like `a a a`).
    *
    * Scale shape — the production BPE-training pipeline: ONE corpus
    * pass collapses 100 TB of text to the word dictionary (shuffle on
    * uniform word keys), and every merge iteration after that is
    * VOCAB-scale (explode adjacent pairs over the dict, one
    * partial-aggregated sum, a 1-row argmax, a narrow map). The
    * driver sees one row per step (the argmax — bounded like the
    * codebook collects) and the ≤[[BpeMerges]]-row merge table;
    * the dictionary itself stays distributed, localCheckpointed per
    * step so the plan chain stays linear. A 50k-merge production run
    * keeps the same first pass and either batches steps or collects
    * the (vocab-scale, Zipf-truncated) dict to one node — the classic
    * two-phase shape; the per-step distributed loop here is the
    * unbounded-dict half of that trade. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeModel(spark, dir)._1
      .toDF("Step", "A", "B", "Merged", "PairCount")
      .orderBy(col("Step"))
  }

  /** BPE ENCODING stats — the apply half of [[bpeVocab]]: segment
    * every corpus word with the learned merge table and report
    * per-doc word/subword counts and fertility (subwords per word,
    * the standard tokenizer-quality metric). No per-document merge
    * replay: the trained model's final DICTIONARY already carries
    * each word's segmentation, so encoding is corpus tokens joined to
    * the vocab-scale dict on uniform word keys — the production
    * tokenize-by-lookup shape (at 100 TB: broadcast the dict or
    * shuffle on words; either way one corpus pass). Docs whose every
    * token was filtered (none here; words are non-empty by
    * construction) zero-fill through the left join. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val dict = bpeModel(spark, dir)._2
      .select(col("W"),
        size(expr(s"filter(split(Seg, '$BpeTab'), x -> x != '')")).as("NSyms"))
    val enc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(toksSql)).as("W"))
      .filter(length(col("W")) >= 1)
      .join(dict, "W")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("NWords"), sum(col("NSyms")).as("NSubwords"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("NWords"), lit(0L)).as("NWords"),
        coalesce(col("NSubwords"), lit(0L)).as("NSubwords"))
      .withColumn("Fertility",
        when(col("NWords") === 0, lit(0.0))
          .otherwise(col("NSubwords").cast(DoubleType) / col("NWords")))
      .orderBy(col("doc_id"))
  }

  /** Merge count of the DRIVER-loop trainer's gate query. */
  val BpeDeepMerges = 100

  /** Min corpus frequency for a word to enter [[bpeVocabDriver]]'s
    * collected dictionary — the standard BPE noise-tail floor. The
    * default 1 keeps every word (the gate corpora are Zipf-clean and
    * the gate hash depends on the full dict); a web-scale run raises
    * it, which is the knob that actually bounds the collect. */
  val BpeDriverMinCount = 1L
  /** LOUD ceiling on the collected dictionary's row count: the
    * two-phase trainer's premise is that the post-floor word dict is
    * vocab-scale (tens of millions of rows at 100 TB). A corpus whose
    * typo/noise tail blows past this is told to raise the floor
    * instead of silently OOMing the driver. */
  val BpeDriverMaxDictRows = 20000000

  /** BPE training over the COLLECTED word dictionary — the production
    * shape for real merge counts (a 32k-merge vocabulary would cost
    * 32k distributed jobs through [[bpeVocab]]'s per-step loop; the
    * classic two-phase pipeline instead does ONE distributed corpus
    * pass to the word dict, then trains in memory where a merge step
    * is microseconds). The collect is vocab-scale — the Zipf dict of
    * a 100 TB corpus is tens of millions of rows, single-node
    * territory; for anything larger the distributed loop above IS the
    * fallback, which is exactly the trade both scaladocs declare.
    * That premise is now ENFORCED, not assumed: see
    * [[bpeVocabDriverOf]] — a [[BpeDriverMinCount]] frequency floor
    * ahead of the collect plus the [[BpeDriverMaxDictRows]] loud
    * ceiling (checked via a limit, so an over-ceiling dictionary
    * aborts before it ever lands on the driver).
    *
    * Semantics are IDENTICAL to [[bpeVocab]] by construction: same
    * per-position pair counting weighted by word frequency, same
    * (count desc, A, B) tie-break, same left-to-right non-overlapping
    * application (the in-memory walk is literally the symbol-level
    * definition the tab-terminated replace trick implements
    * string-wise); words split per CODE POINT to match the regex
    * `(.)` seeding. OpsSpec asserts the first [[BpeMerges]] merges
    * equal the distributed loop's on the fixture corpus, and the
    * deeper gate row hash-matches the same unrolled mirror at
    * [[BpeDeepMerges]] steps. */
  def bpeVocabDriver(spark: SparkSession, dir: String,
                     nMerges: Int = BpeDeepMerges): DataFrame =
    bpeVocabDriverOf(
      Tables.documents(spark, dir)
        .select(explode(expr(toksSql)).as("W"))
        .filter(length(col("W")) >= 1),
      nMerges)

  /** [[bpeVocabDriver]]'s core over any one-column word frame — split
    * out so the collect bound is testable against a planted noise
    * tail (OpsSpec) without synthesizing a corpus directory.
    *
    * The collect is BOUNDED, not trusted: `minCount` floors the Zipf
    * noise tail before anything leaves the cluster (standard BPE
    * practice — singleton typos can't win a merge against real pairs
    * until real pairs are exhausted anyway), and `maxDictRows` is a
    * loud ceiling enforced by collecting AT MOST maxDictRows+1 rows
    * (a `limit`, so an over-ceiling dict aborts without materializing
    * itself on the driver) — the failure message says to raise the
    * floor. Results are unchanged whenever the bound passes: the
    * limit returned every row. */
  private[graft] def bpeVocabDriverOf(words: DataFrame, nMerges: Int,
      minCount: Long = BpeDriverMinCount,
      maxDictRows: Int = BpeDriverMaxDictRows): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    def codePoints(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    val dictRows = words
      .groupBy(col("W")).agg(count(lit(1)).as("Cnt"))
      .filter(col("Cnt") >= minCount)
      .limit(maxDictRows + 1)
      .collect()
    require(dictRows.length <= maxDictRows,
      s"BPE word dictionary exceeds $maxDictRows rows after the " +
        s"min-frequency floor $minCount — raise the floor (a noise tail " +
        "this long should never reach the driver) or use the distributed " +
        "per-step trainer (bpeVocab)")
    var segs = dictRows
      .map(r => (codePoints(r.getAs[String]("W")), r.getAs[Long]("Cnt")))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        merges += ((step, a, b, a + b, c))
        segs = segs.map { case (syms, cnt) =>
          val out = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), cnt)
        }
        step += 1
      }
    }
    merges.result().toDF("Step", "A", "B", "Merged", "PairCount")
      .orderBy(col("Step"))
  }

  private val BpeTab = "\t"

  /** Learn the BPE model once per (session, corpus): the merge table
    * plus the final word dictionary `(W, Cnt, Seg)` — memoized like
    * [[langidModel]] (train once, encode/report per query). The dict
    * is localCheckpointed per step, so the memoized frame is
    * materialized and lineage-free; its blocks live until the frame
    * is collected, so the registry entry has nothing to release. */
  private def bpeModel(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    Substrates[(Seq[(Int, String, String, String, Long)], DataFrame)](
        spark, dir, "text.bpeModel")(_ => ()) {
      val tab = BpeTab
      var dict = Tables.documents(spark, dir)
        .select(explode(expr(toksSql)).as("W"))
        .filter(length(col("W")) >= 1)
        .groupBy(col("W")).agg(count(lit(1)).as("Cnt"))
        .withColumn("Seg", regexp_replace(col("W"), "(.)", "$1" + tab))
        .localCheckpoint()
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      var step = 1
      var exhausted = false
      while (step <= BpeMerges && !exhausted) {
        val top = dict
          .select(col("Cnt"),
            expr(s"filter(split(Seg, '$tab'), x -> x != '')").as("Syms"))
          .filter(size(col("Syms")) >= 2)
          .select(col("Cnt"), explode(expr(
            "transform(sequence(1, size(Syms) - 1), i -> " +
              "struct(element_at(Syms, i) AS A, element_at(Syms, i + 1) AS B))")).as("P"))
          .groupBy(col("P.A").as("A"), col("P.B").as("B"))
          .agg(sum(col("Cnt")).as("PairCount"))
          .orderBy(col("PairCount").desc, col("A"), col("B"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val a = top(0).getAs[String]("A")
          val b = top(0).getAs[String]("B")
          merges += ((step, a, b, a + b, top(0).getAs[Long]("PairCount")))
          // literal columns, not SQL-string interpolation: symbols are
          // arbitrary token characters (quotes included)
          dict = dict.withColumn("Seg", call_function("replace",
              col("Seg"), lit(a + tab + b + tab), lit(a + b + tab)))
            .localCheckpoint()
          step += 1
        }
      }
      (merges.result(), dict)
    }
  }

  /** Per-doc char-trigram bag `(doc_id, lang, Tri, M)` — the shared
    * input of [[langidTrained]]'s training and scoring passes.
    * Deliberately NOT materialized: corpus-scale (see the OOM note in
    * [[langidModel]]). */
  private def langTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val triSql = s"flatten(transform(filter($toksSql, t -> length(t) >= 3), " +
      "tok -> transform(sequence(1, length(tok) - 2), i -> substring(tok, i, 3))))"
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("lang"), explode(expr(triSql)).as("Tri"))
      .groupBy(col("doc_id"), col("lang"), col("Tri"))
      .agg(count(lit(1)).cast(LongType).as("M"))
  }

  /** TRAINED langid MODEL substrate `(grid, totals)` — the
    * Cavnar–Trenkle profile grid `(PLang, Tri, Bits)` plus the
    * language totals, memoized + cached per (session, dir) like
    * [[docPostings]]: train once per corpus snapshot, score per
    * query — the production classifier lifecycle. The grid is
    * vocab × #langs (broadcast-scale; cache is cheap); langCnt is
    * localCheckpointed at build so the profile chain (totals, vocab,
    * grid: 3 consumers) costs ONE corpus trigram pass total. The
    * corpus-scale trigram bag itself is deliberately NOT pinned —
    * pinning it starves execution memory on small heaps (measured OOM
    * at 500k docs under a 4 GiB driver); streaming passes are the
    * safe shape. */
  private def langidModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.functions.TextExpressions.register(spark)
    Substrates[(DataFrame, DataFrame)](spark, dir, "text.langidModel") { case (grid, totals) =>
      grid.unpersist(false); totals.unpersist(false)
    } {
      val langCnt = langTrigrams(spark, dir)
        .groupBy(col("lang"), col("Tri")).agg(sum(col("M")).as("C"))
        .localCheckpoint()
      val totals = langCnt.groupBy(col("lang")).agg(sum(col("C")).as("T"))
      val vCount = langCnt.select(col("Tri")).distinct()
        .agg(count(lit(1)).cast(LongType).as("V"))
      // complete (lang, tri) grid: absent pairs get c = 0 (Laplace floor)
      val grid = langCnt.select(col("Tri")).distinct()
        .crossJoin(totals)
        .join(langCnt, Seq("lang", "Tri"), "left")
        .withColumn("C", coalesce(col("C"), lit(0L)))
        .crossJoin(broadcast(vCount))
        .withColumn("Bits",
          (length(expr("bin((T + V) div (C + 1))")) - 1).cast(IntegerType))
        .select(col("lang").as("PLang"), col("Tri"), col("Bits"))
      (grid.cache(), totals.cache())
    }
  }

  /** Corpus POSTINGS substrate `(doc_id, Dl, Term, Tf)` — the inverted
    * index in relational shape, memoized + `.cache()`d per (session,
    * dir) like [[unigramCounts]]/DedupOps.docBands. Every lexical-
    * retrieval consumer ([[bm25Topk]], RetrievalOps.prfExpand — and
    * via bm25Topk, RetrievalOps.hybridRrf) previously re-derived the
    * corpus token explode per execution (2-3 corpus passes per
    * retrieval query); in production the postings table IS the
    * materialized index artifact built once per corpus snapshot, and
    * every query joins against it. Corpus-token-scale, so the cache is
    * MEMORY_AND_DISK (Dataset.cache default) — eviction spills, never
    * recomputes mid-plan. Term frequencies aggregated here are
    * identical to counting raw exploded rows downstream, so every
    * consumer's arithmetic (and its oracle hash) is unchanged. */
  def docPostings(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    Substrates.frame(spark, dir, "text.docPostings") {
      Tables.documentsSpread(spark, dir)
        .withColumn("TS", expr("token_stats(text)"))
        .select(col("doc_id"), col("TS.NTokens").as("Dl"),
          explode(expr(toksSql)).as("Term"))
        .groupBy(col("doc_id"), col("Dl"), col("Term"))
        .agg(count(lit(1)).cast(IntegerType).as("Tf"))
        .cache()
    }
  }

  /** 1-row corpus stats `(NDocs, SumDl)` — kept SEPARATE from the
    * postings substrate so documents with zero tokens still count
    * toward N and avgdl exactly as the original per-query aggregate
    * did (they have no postings rows). Trivially cached. */
  def docStats(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    Substrates.frame(spark, dir, "text.docStats") {
      Tables.documents(spark, dir)
        .withColumn("TS", expr("token_stats(text)"))
        .agg(count(lit(1)).cast(IntegerType).as("NDocs"),
          sum(col("TS.NTokens").cast(LongType)).as("SumDl"))
        .cache()
    }
  }

  /** Results returned per query by [[bm25Topk]]. */
  val Bm25TopK = 5
  /** Okapi BM25 constants (the standard defaults; shared with the
    * DuckDB mirror so both engines score the same function). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** The retrieval workload: a fixed query set over the corpus
    * vocabulary (terms are whitespace-split, duplicates ignored —
    * declared query semantics, shared with the oracle). */
  val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "hash join batch",
    2 -> "window agg stream",
    3 -> "slow scan filter vector",
    4 -> "customer query")

  /** BM25 top-k retrieval — ranked keyword search over `documents`,
    * the lexical-retrieval primitive (eval-set mining, hard-negative
    * sourcing, decontamination triage) next to the embedding ANN stack.
    *
    * Scoring is Okapi BM25 with the RATIONAL idf `(N-df+0.5)/(df+0.5)`
    * (log-free for the same reason as [[tfidf]]: every step is an IEEE
    * exactly-rounded mul/div of integer-derived values, so DuckDB
    * reproduces each per-term score bit-for-bit where `ln` would be at
    * the mercy of each engine's libm). Per-document totals sum the
    * per-term scores as `floor(s·1e9)` LONGS — exact and
    * order-independent under any shuffle order (the corpusStats
    * playbook); the reported Score is the quantized sum re-scaled.
    *
    * Scale shape: the query-term set is a tiny broadcast literal and
    * the tf table is a FILTER of the cached [[docPostings]] substrate
    * against it — hit-sized rows out of the one-build/many-read
    * inverted index, no per-query corpus explode. df comes from a
    * count-over-Token window on those distinct (doc, term) rows (the
    * tfidf trick — no second corpus pass); doc lengths ride the
    * postings rows; N and avgdl are the 1-row [[docStats]] broadcast
    * crossJoin (A13 grand-total pattern). Final per-query top-k is a
    * WindowGroupLimit over the |queries|·|hit docs| score rows, never
    * a global sort. */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allTerms = Bm25Queries.flatMap(_._2.split("\\s+")).distinct.sorted
    // corpus-level N and avgdl: one aggregate row, broadcast
    val stats = docStats(spark, dir)
    // per-(doc, query-term) tf: the postings substrate filtered to the
    // query vocabulary — hit-sized
    val tf = docPostings(spark, dir).filter(col("Term").isInCollection(allTerms))
    import spark.implicits._
    val queries = Bm25Queries
      .flatMap { case (qid, q) => q.split("\\s+").distinct.map(qid -> _) }
      .toDF("QueryId", "Term")
    val scored = tf
      .withColumn("Df",
        count(lit(1)).over(Window.partitionBy(col("Term"))).cast(IntegerType))
      .crossJoin(broadcast(stats))
      .join(broadcast(queries), "Term")
      .withColumn("AvgDl", col("SumDl").cast(DoubleType) / col("NDocs"))
      .withColumn("Idf", (col("NDocs") - col("Df") + 0.5) / (col("Df") + 0.5))
      .withColumn("K",
        lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("Dl") / col("AvgDl")))
      .withColumn("S",
        col("Idf") * (col("Tf") * lit(Bm25K1 + 1.0)) / (col("Tf") + col("K")))
      .withColumn("Sq", floor(col("S") * 1e9).cast(LongType))
    val w = Window.partitionBy(col("QueryId"))
      .orderBy(col("ScoreQ").desc, col("doc_id").asc)
    scored.groupBy(col("QueryId"), col("doc_id"))
      .agg(sum(col("Sq")).as("ScoreQ"), count(lit(1)).cast(IntegerType).as("NTermsHit"))
      .withColumn("Rank", row_number().over(w))
      .filter(col("Rank") <= Bm25TopK)
      .withColumn("Score", col("ScoreQ").cast(DoubleType) / 1e9)
      .select(col("QueryId"), col("doc_id"), col("NTermsHit"),
        col("ScoreQ"), col("Score"), col("Rank"))
      .orderBy(col("QueryId"), col("Rank"))
  }

  /** Mean-surprisal band (in bits) outside which [[perplexity]] flags a
    * document as an outlier (too predictable = boilerplate/looping,
    * too surprising = gibberish/OOV soup) — the CCNet-style two-sided
    * perplexity filter. Shared with the DuckDB mirror. */
  val PplBandBits = 0.5

  /** Corpus unigram counts (Token, C) — the language-model substrate of
    * [[perplexity]]. Memoized + `.cache()`d per (session, dir) like
    * DedupOps.docBands: in production the LM counts are materialized
    * once per corpus snapshot and every scoring pass joins against
    * them; the memo gives the same one-build/many-read shape here.
    * Vocabulary-sized (≪ corpus), so the cache cost is trivial. */
  private def unigramCounts(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "text.unigramCounts") {
      Tables.documentsSpread(spark, dir)
        .select(explode(expr(toksSql)).as("Token"))
        .groupBy(col("Token")).agg(count(lit(1)).as("C"))
        .cache()
    }

  /** Unigram-LM surprisal scoring — the perplexity-style quality filter
    * (CCNet's wikipedia-LM filter, re-expressed engine-portably): each
    * token's Laplace-smoothed probability is `(c+1)/(T+V)`, its
    * surprisal is quantized to INTEGER BITS as
    * `floor(log2((T+V) div (c+1)))` = `length(bin(r)) - 1` — every
    * step integer arithmetic, so Spark and DuckDB agree bit-for-bit
    * where a libm `ln` would drift in the last ulp. A document's score
    * is its mean token surprisal; docs outside ±[[PplBandBits]] of the
    * corpus mean are flagged (two-sided, the CCNet convention).
    *
    * Scale shape: the LM-counts substrate ([[unigramCounts]]) is built
    * once (vocab-sized output, one explode pass) and cached — the
    * production shape is a materialized counts table per corpus
    * snapshot. Scoring is one more explode pass joined to the counts
    * on Token (broadcast when the vocabulary fits, shuffle otherwise —
    * AQE decides from the counts table's actual size). Corpus totals
    * (T, V, total bits) are vocabulary-sized aggregates riding the
    * cached counts, broadcast as 1-row frames (A13 pattern). Per-doc
    * sums are LONGS — order-independent under any shuffle. */
  def perplexity(spark: SparkSession, dir: String): DataFrame = {
    val cnt = unigramCounts(spark, dir)
    val tot = cnt.agg(
      count(lit(1)).cast(LongType).as("V"),
      sum(col("C")).as("T"))
    // per-token integer surprisal bits, from the cached vocab table
    val cb = cnt.crossJoin(broadcast(tot))
      .withColumn("Bits",
        (length(expr("bin((T + V) div (C + 1))")) - 1).cast(IntegerType))
    val corp = cb.agg(
      sum(col("C") * col("Bits")).as("TB"),
      sum(col("C")).as("TT"))
    val tf = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(expr(toksSql)).as("Token"))
      .groupBy(col("doc_id"), col("Token"))
      .agg(count(lit(1)).cast(IntegerType).as("Tf"))
    tf.join(cb.select(col("Token"), col("Bits")), "Token")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("Tf").cast(LongType)).as("NTokens"),
        sum((col("Tf") * col("Bits")).cast(LongType)).as("SumBits"))
      .crossJoin(broadcast(corp))
      .withColumn("MeanBits", col("SumBits").cast(DoubleType) / col("NTokens"))
      .withColumn("CorpusMeanBits", col("TB").cast(DoubleType) / col("TT"))
      .withColumn("DeltaBits", col("MeanBits") - col("CorpusMeanBits"))
      .withColumn("IsOutlier", abs(col("DeltaBits")) > PplBandBits)
      .select(col("doc_id"), col("NTokens"), col("SumBits"), col("MeanBits"),
        col("DeltaBits"), col("IsOutlier"))
      .orderBy(col("doc_id"))
  }

  /** Length-histogram buckets for the drift card: NTokens div
    * [[DriftBucketWidth]], clamped to [[DriftBuckets]]−1. */
  val DriftBuckets = 5
  val DriftBucketWidth = 20
  /** χ² critical value at df = [[DriftBuckets]]−1 = 4, p = 0.001 —
    * the drift flag's fixed decision bar (both engines compare the
    * same deterministic double against the same constant). */
  val DriftChiSqCrit = 18.467

  /** PER-SOURCE DISTRIBUTION-DRIFT CARD — the monitoring query a
    * 100 TB ingest pipeline runs per batch: does any source's
    * token-length histogram diverge from the corpus baseline?
    * Pearson's χ² per source against expected counts e_b = n_s·N_b/N,
    * over [[DriftBuckets]] fixed-width buckets.
    *
    * Determinism discipline: every count is an exact integer; each
    * χ² term is (o_b·N − n_s·N_b)²/(N·n_s·N_b) with the difference
    * formed in LONGS (exact while n_s·N < 2⁶³ — holds to ~10⁹ docs ×
    * 10⁹ corpus? no: the bound is o_b·N ≤ n_s·N ≤ N², so exact to
    * N ≈ 3·10⁹ docs; past that promote to decimal), then squared and
    * divided in doubles; the [[DriftBuckets]] terms are summed as a
    * FIXED expression chain (t0+t1+…), never a shuffle-order
    * aggregate — the EWMA determinism trick, so the double
    * hash-matches the mirror. Buckets with N_b = 0 contribute 0 (o_b
    * is necessarily 0 there too).
    *
    * Scale shape: one narrow token-stats pass → one per-source
    * aggregate (map-side combined conditional counts, |sources|
    * rows) → a broadcast 1-row corpus total. No shuffle is
    * histogram-sized; nothing is corpus² — the card costs one scan
    * regardless of source count. */
  def driftChisq(spark: SparkSession, dir: String): DataFrame =
    driftFromPerSource(driftPerSource(docsWithStats(spark, dir)))

  /** The histogram-aggregation half of the drift card, factored so
    * the STREAMING twin runs the identical kernel: works on any frame
    * carrying `source` + the `TS` token-stats struct (static or
    * streaming — a source-keyed streaming aggregation's state is
    * |sources| rows, bounded by construction). */
  private[graft] def driftPerSource(docsWithTs: DataFrame): DataFrame = {
    val perDoc = docsWithTs
      .select(col("source"), least(expr(s"TS.NTokens div $DriftBucketWidth"),
        lit(DriftBuckets - 1)).as("Bk"))
    val obs = (0 until DriftBuckets).map(b =>
      sum(when(col("Bk") === b, 1L).otherwise(0L)).as(s"O$b"))
    val aggs = count(lit(1)).as("NDocs") +: obs
    perDoc.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
  }

  /** The χ²-shaping half: totals + the fixed-order term chain over a
    * (source, NDocs, O0..O{B−1}) frame. ONE definition for the batch
    * query and the streaming twin's final complete-mode table. */
  private[graft] def driftFromPerSource(perSource: DataFrame): DataFrame = {
    val totAggs = sum(col("NDocs")).as("N") +:
      (0 until DriftBuckets).map(b => sum(col(s"O$b")).as(s"N$b"))
    val totals = perSource.agg(totAggs.head, totAggs.tail: _*)
    val terms = (0 until DriftBuckets).map { b =>
      val d = col(s"O$b") * col("N") - col("NDocs") * col(s"N$b")
      when(col(s"N$b") === 0, lit(0.0)).otherwise(
        (d.cast(DoubleType) * d.cast(DoubleType)) /
          (col("N").cast(DoubleType) * col("NDocs").cast(DoubleType) *
            col(s"N$b").cast(DoubleType)))
    }
    perSource.crossJoin(broadcast(totals))
      .withColumn("Chi2", terms.reduceLeft(_ + _))
      .withColumn("Drifted", col("Chi2") > DriftChiSqCrit)
      .select((col("source") +: col("NDocs") +:
        (0 until DriftBuckets).map(b => col(s"O$b")) :+
        col("Chi2") :+ col("Drifted")): _*)
      .orderBy(col("source"))
  }

  /** PER-SOURCE VOCABULARY DIVERSITY CARD — the lexical-diversity
    * signals corpus curation weighs sources by: token/type counts,
    * type-token ratio, and Shannon entropy of the source's unigram
    * distribution quantized to INTEGER BITS (the perplexity
    * floor-log2 quantizer: H_q = Σ_t c_t·⌊log2(N/c_t)⌋ — all integer
    * arithmetic, so the entropy is exact and engine-portable where
    * −Σ p·ln p would sit on two libms; MeanBits = H_q/N and TTR are
    * each ONE division). Low-entropy sources are template/boilerplate
    * farms; the card is the per-source complement of the per-doc
    * repetition and perplexity filters.
    *
    * Scale shape: one pass over the memoized [[docPostings]]
    * substrate joined to the doc→source map (doc-sized broadcast side
    * at gate scale, co-keyed join at 100 TB), then a (source, term)
    * hash aggregate and a source-sized rollup. Int64 ceiling: the
    * per-term product c·bits is ≤ 63·c, far under long for any real
    * corpus. */
  def sourceEntropy(spark: SparkSession, dir: String): DataFrame = {
    val srcs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val counts = docPostings(spark, dir)
      .join(srcs, "doc_id")
      .groupBy(col("source"), col("Term"))
      .agg(sum(col("Tf")).cast(LongType).as("C"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("C")).as("N"), count(lit(1)).as("NDistinct"))
    counts.join(totals, "source")
      .withColumn("Bits", length(expr("bin(N div C)")) - 1)
      .groupBy(col("source"))
      .agg(max(col("N")).as("NTokens"), max(col("NDistinct")).as("NTypes"),
        sum(col("C") * col("Bits")).as("EntropyBitsQ"))
      .withColumn("MeanBits",
        col("EntropyBitsQ").cast(DoubleType) / col("NTokens"))
      .withColumn("TypeTokenRatio",
        col("NTypes").cast(DoubleType) / col("NTokens"))
      .select(col("source"), col("NTokens"), col("NTypes"),
        col("EntropyBitsQ"), col("MeanBits"), col("TypeTokenRatio"))
      .orderBy(col("source"))
  }

  /** KS α=0.05 two-sample critical coefficient 1.358 as an exact
    * rational (its square 1358²/1000² enters the integer verdict). */
  val KsCritNum = 1358L
  val KsCritDen = 1000L

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT per source — the
    * distribution-free complement of [[driftChisq]]: each source's
    * doc-length (`n_chars`) distribution against the REST of the
    * corpus, D = sup_v |F_s(v) − F_rest(v)|. Where the χ² card needs
    * its fixed bucketing, KS compares full empirical CDFs — the
    * standard pairing in drift monitoring.
    *
    * Exactness: with integer cumulative counts cS, cR and sizes nS,
    * nR, D = max_v |cS·nR − cR·nS| / (nS·nR) — the sup is an integer
    * max ([[DNum]]), the reported D is ONE division, and the α=0.05
    * verdict (D > [[KsCritNum]]/[[KsCritDen]] · √((nS+nR)/(nS·nR)))
    * is squared into the pure-integer DECIMAL(38,0) comparison
    * DNum²·KsCritDen² > KsCritNum²·nS·nR·(nS+nR) — no sqrt, no
    * float, bit-identical to the oracle's HUGEINT form.
    *
    * Scale shape: one doc-scan aggregate to (source, value) counts,
    * then everything runs on the |sources|×|distinct values| grid
    * (built by a crossJoin of two small distincts; per-source CDFs
    * via one value-ordered running-sum window per side — A13-style
    * post-aggregation frames). Sources are bounded by construction;
    * a value domain that grows unboundedly at 100 TB gets quantized
    * first (the driftChisq bucket-width seam). */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("V"))
    val counts = docs.groupBy(col("source"), col("V")).agg(count(lit(1)).as("C"))
    val grid = docs.select(col("V")).distinct()
      .crossJoin(docs.select(col("source")).distinct())
    val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("NS"))
    val total = docs.agg(count(lit(1)).as("N"))
    val wS = Window.partitionBy(col("source")).orderBy(col("V"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.orderBy(col("V"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.groupBy(col("V")).agg(sum(col("C")).as("TV"))
      .withColumn("CT", sum(col("TV")).over(wT))
      .select(col("V"), col("CT"))
    val dev = grid
      .join(counts, Seq("source", "V"), "left")
      .withColumn("C", coalesce(col("C"), lit(0L)))
      .withColumn("CS", sum(col("C")).over(wS))
      .join(tot, "V")
      .join(broadcast(sizes), "source")
      .crossJoin(broadcast(total))
      .withColumn("NR", col("N") - col("NS"))
      .withColumn("Dev",
        abs(col("CS") * col("NR") - (col("CT") - col("CS")) * col("NS")))
    dev.groupBy(col("source"))
      .agg(max(col("NS")).as("NDocs"), max(col("NR")).as("NRest"),
        max(col("Dev")).as("DNum"))
      .withColumn("D",
        col("DNum").cast(DoubleType) / (col("NDocs") * col("NRest")).cast(DoubleType))
      .withColumn("Drifted",
        col("DNum").cast(d38) * col("DNum") * lit(KsCritDen * KsCritDen) >
          lit(KsCritNum * KsCritNum).cast(d38) * col("NDocs") * col("NRest") *
            (col("NDocs") + col("NRest")))
      .select(col("source"), col("NDocs"), col("NRest"), col("DNum"),
        col("D"), col("Drifted"))
      .orderBy(col("source"))
  }

  /** Corpus ADJACENT-BIGRAM counts `(A, B, C2)` — the order-2 LM
    * substrate, memoized + `.cache()`d per (session, dir) exactly like
    * [[unigramCounts]]: in production the bigram table is materialized
    * once per corpus snapshot and every consumer ([[pmiCollocations]],
    * [[perplexityBigram]]) joins against it instead of re-exploding
    * the corpus. The explode is corpus-token-scale and map-side
    * combines into a pair-keyed hash aggregate; the cached output is
    * vocab²-BOUNDED but corpus-LIMITED (≤ total bigram occurrences),
    * and Zipf corpora keep it far below either bound. */
  private def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "text.bigramCounts") {
      Tables.documentsSpread(spark, dir)
        .select(expr(toksSql).as("T"))
        .filter(size(col("T")) >= 2)
        .select(explode(expr(
          "transform(slice(T, 1, size(T) - 1), (x, i) -> struct(x AS A, element_at(T, i + 2) AS B))"))
          .as("P"))
        .groupBy(col("P.A").as("A"), col("P.B").as("B"))
        .agg(count(lit(1)).as("C2"))
        .cache()
    }

  /** Collocation-mining knobs: an adjacent bigram must occur at least
    * [[PmiMinPairCount]] times corpus-wide to be scored (the standard
    * low-count guard — PMI explodes on hapax pairs); top [[PmiTopK]]
    * reported. Shared with the DuckDB mirror. */
  val PmiMinPairCount = 5
  val PmiTopK = 50

  /** PMI COLLOCATION MINING (Church & Hanks 1990) — the phrase-mining
    * pass a tokenizer/vocabulary pipeline runs before merging
    * multi-word units: rank adjacent token bigrams by pointwise mutual
    * information, PMI = log2(P(ab) / (P(a)·P(b))). Ordering by PMI is
    * ordering by the RATIO C(ab)·N² / (C(a)·C(b)·B) (N = corpus
    * tokens, B = corpus bigrams), so the score is computed as exact
    * integer cross-products widened in DECIMAL(38,0) (≡ DuckDB
    * HUGEINT) with ONE correctly-rounded cast to double and ONE IEEE
    * division — the statsCorrelation discipline; both engines produce
    * the bit-identical double, and (ratio desc, TermA, TermB) is a
    * total order over the unique pair keys.
    *
    * Scale shape: pair counts ride the cached [[bigramCounts]]
    * substrate and unigram counts the cached [[unigramCounts]]
    * substrate — the query itself touches only vocabulary-scale
    * tables; corpus totals (NTok = Σ unigram C, NBig = Σ bigram C2 —
    * identities of the raw-pass totals by construction) are 1-row
    * broadcasts. No pair join, nothing corpus×corpus; the term-key
    * joins broadcast when the vocab fits (AQE decides). 38-digit
    * headroom: the numerator is C(ab)·N² ≤ N³, exact to N ≈ 10¹²
    * tokens. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val pairCnt = bigramCounts(spark, dir)
      .filter(col("C2") >= PmiMinPairCount)
      .select(col("A").as("TermA"), col("B").as("TermB"), col("C2").as("NBoth"))
    val uni = unigramCounts(spark, dir)
    val ntok = uni.agg(sum(col("C")).as("NTok"))
    val nbig = bigramCounts(spark, dir).agg(sum(col("C2")).as("NBig"))
    pairCnt
      .join(uni.select(col("Token").as("TermA"), col("C").as("NA")), "TermA")
      .join(uni.select(col("Token").as("TermB"), col("C").as("NB")), "TermB")
      .crossJoin(broadcast(ntok))
      .crossJoin(broadcast(nbig))
      .withColumn("PmiRatio",
        (col("NBoth").cast(DecimalType(38, 0)) * col("NTok") * col("NTok"))
          .cast(DoubleType) /
        (col("NA").cast(DecimalType(38, 0)) * col("NB") * col("NBig"))
          .cast(DoubleType))
      .select(col("TermA"), col("TermB"), col("NBoth"), col("NA"), col("NB"),
        col("PmiRatio"))
      .orderBy(col("PmiRatio").desc, col("TermA"), col("TermB"))
      .limit(PmiTopK)
  }

  /** BIGRAM-LM perplexity filter — the order-2 upgrade of
    * [[perplexity]], one model order closer to the 5-gram KenLM filter
    * CCNet actually ships: each adjacent bigram's conditional Laplace
    * probability is P(b|a) = (C(ab)+1)/(C(a)+V), its surprisal
    * quantized to INTEGER BITS as `floor(log2((C(a)+V) div (C(ab)+1)))`
    * = `length(bin(r)) − 1` — the same all-integer quantizer as the
    * unigram filter, so Spark and DuckDB agree bit-for-bit where a
    * libm `ln` would drift. A document's score is its mean bigram
    * surprisal; docs outside ±[[PplBandBits]] of the corpus mean are
    * flagged (two-sided, the CCNet convention). A bigram LM separates
    * what a unigram LM cannot: looping boilerplate re-uses COMMON
    * words in IMPROBABLE orders, scoring near the unigram mean but
    * far above the bigram mean. Documents under 2 tokens have no
    * bigrams and drop out — declared semantics, mirrored.
    *
    * Scale shape: the LM table is the cached [[bigramCounts]]
    * substrate joined to [[unigramCounts]] on the history term A
    * (vocab-scale join, built once); corpus totals (Σ C2·Bits, Σ C2)
    * ride that table as a 1-row broadcast. Scoring is one more
    * corpus explode pass map-side combined to per-doc (A, B) counts,
    * then joined to the bits table on the pair key — the
    * [[perplexity]] plan shape exactly, one model order up. */
  def perplexityBigram(spark: SparkSession, dir: String): DataFrame = {
    val uni = unigramCounts(spark, dir)
    val vRow = uni.agg(count(lit(1)).cast(LongType).as("V"))
    val bits = bigramCounts(spark, dir)
      .join(uni.select(col("Token").as("A"), col("C").as("CA")), "A")
      .crossJoin(broadcast(vRow))
      .withColumn("Bits",
        (length(expr("bin((CA + V) div (C2 + 1))")) - 1).cast(IntegerType))
      .select(col("A"), col("B"), col("C2"), col("Bits"))
    val corp = bits.agg(
      sum(col("C2") * col("Bits")).as("TB"),
      sum(col("C2")).as("TT"))
    val dtf = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), expr(toksSql).as("T"))
      .filter(size(col("T")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(T, 1, size(T) - 1), (x, i) -> struct(x AS A, element_at(T, i + 2) AS B))"))
        .as("P"))
      .groupBy(col("doc_id"), col("P.A").as("A"), col("P.B").as("B"))
      .agg(count(lit(1)).cast(IntegerType).as("Tf2"))
    dtf.join(bits.select(col("A"), col("B"), col("Bits")), Seq("A", "B"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("Tf2").cast(LongType)).as("NBigrams"),
        sum((col("Tf2") * col("Bits")).cast(LongType)).as("SumBits"))
      .crossJoin(broadcast(corp))
      .withColumn("MeanBits", col("SumBits").cast(DoubleType) / col("NBigrams"))
      .withColumn("CorpusMeanBits", col("TB").cast(DoubleType) / col("TT"))
      .withColumn("DeltaBits", col("MeanBits") - col("CorpusMeanBits"))
      .withColumn("IsOutlier", abs(col("DeltaBits")) > PplBandBits)
      .select(col("doc_id"), col("NBigrams"), col("SumBits"), col("MeanBits"),
        col("DeltaBits"), col("IsOutlier"))
      .orderBy(col("doc_id"))
  }

  /** TextRank knobs: an undirected co-occurrence edge must carry at
    * least [[TextRankMinW]] total adjacent co-occurrences (both
    * orders summed) to enter the graph; top [[TextRankTopK]] keywords
    * reported. Shared with the DuckDB mirror. */
  val TextRankMinW = 3
  val TextRankTopK = 25

  /** TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau, EMNLP 2004) —
    * corpus-level keyword mining as weighted PageRank over the token
    * co-occurrence graph: nodes are tokens, an undirected edge (a,b)
    * carries weight W = C(ab)+C(ba) (adjacent co-occurrences in either
    * order, self-pairs excluded, floored at [[TextRankMinW]]), and
    * rank iterates r(v) = (1−d) + d·Σᵤ W(u,v)/SW(u)·r(u) with SW(u)
    * the node's total incident weight.
    *
    * Arithmetic is the EXACT GraphOps.pagerank discipline, weighted:
    * ranks are longs scaled by RankScale, each contribution is
    * `(RankQ·W) div SW` (truncating integer division ≡ DuckDB `//` on
    * positives), rounds are FIXED (PageRankIters, same damping
    * rationals) — so the mirror's CTE replay is bit-identical and
    * (RankQ desc, Token) is a total order. Int64 headroom: a
    * contribution is ≤ RankScale·W ≈ 10⁹·W, so the multiply is exact
    * while any single edge weight stays under ~9·10⁹ adjacent
    * co-occurrences — beyond that, drop RankScale a decade or promote
    * the product to decimal (the PageRank int64-mass note, one factor
    * further along).
    *
    * Scale shape: the graph derives from the cached [[bigramCounts]]
    * substrate — vocab²-bounded, corpus-limited, NEVER corpus-scale;
    * one round = one rank join on Src + one Dst-keyed partial
    * aggregate (the Pregel shape on token keys, which Zipf corpora
    * keep hot only as far as the count floor lets them). The final
    * top-k is TakeOrderedAndProject, never a global sort
    * materialization. */
  def textrankKeywords(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.GraphOps.{DampDen, DampNum, PageRankIters, RankScale, TeleportQ}
    val bg = bigramCounts(spark, dir).filter(col("A") =!= col("B"))
    val sym = bg.select(col("A"), col("B"), col("C2"))
      .unionAll(bg.select(col("B").as("A"), col("A").as("B"), col("C2")))
      .groupBy(col("A"), col("B")).agg(sum(col("C2")).as("W"))
      .filter(col("W") >= TextRankMinW)
    val sw = sym.groupBy(col("A")).agg(sum(col("W")).as("SW"))
    // localCheckpoint-pinned (r17, the trianglesOf oriented-set rule):
    // the edge table feeds every unrolled round — unpinned, each round
    // re-derived the unionAll + two aggregates + join chain (the
    // printed plan repeated the substrate five times; measured ~3 s of
    // the gate wall at sf0.1); pinned, the vocab²-bounded table is
    // built once per invocation
    val edges = sym.join(sw, "A")
      .select(col("A").as("Src"), col("B").as("Dst"), col("W"), col("SW"))
      .localCheckpoint()
    // node universe (Node, SW) read off the PINNED edge table — every
    // sw node appears as a Src (sym is symmetrized), so this is sw
    // itself without re-deriving its aggregation chain
    val nodes = edges.select(col("Src").as("Node"), col("SW")).distinct()
    var ranks = nodes.select(col("Node"), lit(RankScale).as("RankQ"))
    for (_ <- 1 to PageRankIters) {
      // symmetric graph: every node both sends and receives, so the
      // Dst aggregate can never lose a node (the pagerank invariant)
      ranks = edges
        .join(ranks, edges("Src") === ranks("Node"))
        .select(col("Dst"), expr("(RankQ * W) div SW").as("Contrib"))
        .groupBy(col("Dst")).agg(sum(col("Contrib")).as("InQ"))
        .select(col("Dst").as("Node"),
          (lit(TeleportQ) + expr(s"($DampNum * InQ) div $DampDen")).as("RankQ"))
    }
    ranks.join(nodes, "Node")
      .select(col("Node").as("Token"), col("SW").as("SumW"), col("RankQ"))
      .orderBy(col("RankQ").desc, col("Token"))
      .limit(TextRankTopK)
  }

  /** Cumulative checkpoints reported by [[vocabGrowth]]. */
  val VocabGrowthSteps = 10

  /** VOCABULARY-GROWTH (Heaps' law) card — cumulative distinct-token
    * count at each ingestion-order decile of the corpus, with the
    * between-decile Heaps exponent β (V ∝ T^β; sub-linear vocabulary
    * growth is the signature of a healthy natural corpus — β drifting
    * toward 1 means the corpus is ingesting noise/IDs, β collapsing
    * toward 0 means it's saturating on duplicated content; the
    * corpus-curation dashboard number next to [[sourceEntropy]]).
    *
    * Exactness: decile thresholds are exact `percentile_disc` over
    * the ingestion key (the A8-proven `quantile_disc` parity),
    * collected once (driver-scale, the assignAuto precedent) and
    * interpolated into both plans; every count is an integer (a
    * token's decile is where its FIRST document lands — min(doc_id),
    * so cumulative vocab needs no per-decile distinct); the one
    * double, cumulative type-token ratio, is ONE division. The Heaps
    * exponent itself is ln-based and ln is NOT correctly-rounded
    * across engines (the integer-bits rule the perplexity/entropy
    * cards follow), so β stays OUT of the hash-gated columns — OpsSpec
    * derives it from the gated integers and asserts the sub-linear
    * band.
    *
    * Scale shape: one token explode (pinned spread — per-row-CPU
    * rule), one vocab-sized min aggregate, three decile-keyed counts,
    * then everything lives on a [[VocabGrowthSteps]]-row frame (the
    * A13 card rule). No window touches corpus-sized data. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val aggs = (1 to VocabGrowthSteps).map(d =>
      // percentile_disc returns DOUBLE even over bigint input; the
      // picked value is an actual doc_id, integral by construction
      expr(s"CAST(percentile_disc(${d.toDouble / VocabGrowthSteps}D) " +
        "WITHIN GROUP (ORDER BY doc_id) AS BIGINT)")
        .as(s"T$d"))
    val trow = docs.agg(aggs.head, aggs.tail: _*).first()
    // empty corpus: percentile_disc yields NULL thresholds — return
    // the all-zero 10-row frame instead of an opaque NPE below. This
    // IS the mirror's answer on the same input (its CASE arms compare
    // against NULL thresholds and fall to the ELSE over zero rows, so
    // every decile count coalesces to 0 and TtrCum stays NULL).
    if (trow.isNullAt(0))
      return spark.range(1, VocabGrowthSteps + 1)
        .select(col("id").cast(IntegerType).as("Decile"),
          lit(0L).as("NDocsCum"), lit(0L).as("NTokensCum"),
          lit(0L).as("VocabCum"), lit(null).cast(DoubleType).as("TtrCum"))
        .orderBy(col("Decile"))
    val th = (1 to VocabGrowthSteps).map(d => trow.getAs[Long](s"T$d"))
    def decileOf(c: Column): Column =
      th.zipWithIndex.foldRight(lit(VocabGrowthSteps): Column) {
        case ((t, i), acc) => when(c <= t, i + 1).otherwise(acc)
      }
    val toks = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(expr(toksSql)).as("Token"))
    val docsPer = docs.select(decileOf(col("doc_id")).as("Decile"))
      .groupBy(col("Decile")).agg(count(lit(1)).as("ND"))
    val toksPer = toks.select(decileOf(col("doc_id")).as("Decile"))
      .groupBy(col("Decile")).agg(count(lit(1)).as("NT"))
    val vocabPer = toks.groupBy(col("Token")).agg(min(col("doc_id")).as("FD"))
      .select(decileOf(col("FD")).as("Decile"))
      .groupBy(col("Decile")).agg(count(lit(1)).as("NV"))
    val frame = spark.range(1, VocabGrowthSteps + 1)
      .select(col("id").cast(IntegerType).as("Decile"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("Decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame
      .join(docsPer, Seq("Decile"), "left")
      .join(toksPer, Seq("Decile"), "left")
      .join(vocabPer, Seq("Decile"), "left")
      .select(col("Decile"),
        coalesce(col("ND"), lit(0L)).as("ND"),
        coalesce(col("NT"), lit(0L)).as("NT"),
        coalesce(col("NV"), lit(0L)).as("NV"))
      .withColumn("NDocsCum", sum(col("ND")).over(w))
      .withColumn("NTokensCum", sum(col("NT")).over(w))
      .withColumn("VocabCum", sum(col("NV")).over(w))
      .withColumn("TtrCum",
        when(col("NTokensCum") > 0,
          col("VocabCum").cast(DoubleType) / col("NTokensCum")))
      .select(col("Decile"), col("NDocsCum"), col("NTokensCum"),
        col("VocabCum"), col("TtrCum"))
      .orderBy(col("Decile"))
  }

  /** Content fingerprints: an order-insensitive set fingerprint (md5 of
    * the sorted distinct token set) and a min-hash (the 1-permutation
    * MinHash primitive). Both portable to any engine with md5. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    Tables.documentsSpread(spark, dir)
      .withColumn("TF", expr("token_fingerprint(text)"))
      .select(
        col("doc_id"),
        col("TF.Fingerprint").as("Fingerprint"),
        col("TF.MinTokenHash").as("MinTokenHash"),
        col("TF.NShingles").as("NShingles"))
      .orderBy(col("doc_id"))
  }
}
