package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Substrates
import graft.etl.Tables

/** Deduplication operators over `documents`: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * == The scalable shape ==
  * Near-dup detection at 100 TB cannot compare all O(n²) pairs. The
  * pipeline here is the standard scalable decomposition:
  *   1. per-doc sketch (MinHash signature / SimHash) — one narrow map
  *      pass, no shuffle;
  *   2. LSH banding — explode to (band_id, band_value) and self-join on
  *      the band value: only docs agreeing on a whole band collide, so
  *      the join output is ~(true pairs + tunable false positives), not
  *      n²;
  *   3. exact verification (shingle Jaccard) only on candidates.
  * Band values are md5s → near-uniform join keys (no skew). All hashes
  * are md5-based so the DuckDB oracle reproduces them bit-for-bit.
  */
object DedupOps {

  import TextOps.toksSql

  private val NumHashes = 8
  private val NumBands = 4 // 2 rows per band

  /** doc_id + distinct 3-gram shingle array (native one-pass
    * expression; the declarative HOF equivalent is kept in
    * TextOps.shinglesSql and validated identical via the oracle). */
  private def docShingles(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    // documentsSpread (PINNED count): the substrate under the entire
    // dedup family — an AQE one-partition collapse here would
    // serialize every shingle pass (the rule + measurement live on
    // Tables.documentsSpread; PlanSpec guards this substrate).
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), expr("token_shingles(text)").as("Sh"))
  }

  /** doc_id, Sh, B1..B4 LSH band values (native MinHash-8 → 4 bands).
    *
    * Memoized + `.cache()`d per (session, dir) — the sketch table is
    * the shared substrate of the whole dedup family (band listing,
    * near-dup candidate join, shingle verify lookups, clustering
    * edges), so one deliberate long-lived cache replaces per-call
    * orphan caches (same pattern as SimilarityOps.quantized);
    * [[Substrates.invalidate]] releases it explicitly. */
  private def docBands(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "dedup.docBands") {
      val withBands = docShingles(spark, dir)
        .withColumn("Bands", expr("minhash_bands(Sh)"))
      (1 to NumBands).foldLeft(withBands) { (df, b) =>
        df.withColumn(s"B$b", element_at(col("Bands"), b))
      }.drop("Bands").cache()
    }

  /** The cached per-doc shingle sets, for operators OUTSIDE the dedup
    * family that consume the same substrate (CurateOps.decontaminate):
    * one shared long-lived cache instead of a second full md5 pass
    * over the corpus. Carries the band columns too (they ride along in
    * the memoized table; projecting them away is free). */
  def sharedShingles(spark: SparkSession, dir: String): DataFrame =
    docBands(spark, dir).select(col("doc_id"), col("Sh"))

  /** DISTINCT (source, Shingle) pairs — the substrate of the
    * corpus-vs-corpus cards (TextOps.sourceSimilarity), which consumes
    * it THREE times per invocation (signature aggregate + both sides
    * of the exact-intersection self-join). Same owner/invalidate
    * pattern as [[docBands]]; derives from the shared shingle cache,
    * so the md5 sketch pass itself is never repeated. */
  private[ops] def sourceShingles(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "dedup.sourceShingles")(
      sharedShingles(spark, dir)
        .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), explode(col("Sh")).as("Shingle"))
        .distinct()
        .cache())

  /** DISTINCT (source, V) 48-bit shingle-hash pairs — the KMV overlap
    * family's substrate (r17): both gate queries (`sketch_source_
    * overlap`, `sketch_source_difference`) consume this frame THREE
    * times per invocation (per-source sketch aggregate + both sides of
    * the exact-certificate self-join), and each re-derivation re-ran
    * the md5 prefix hash over every distinct (source, shingle) row.
    * Hash definition stays the single [[graft.ops.TextOps
    * .shingleHashCol]] site. Same owner/invalidate pattern as
    * [[sourceShingles]], which it derives from. */
  private[ops] def sourceShingleHashes(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "dedup.sourceShingleHashes")(
      sourceShingles(spark, dir)
        .select(col("source"),
          graft.ops.TextOps.shingleHashCol(col("Shingle")).as("V"))
        .distinct()
        .cache())

  /** Exploded shingles with their global document frequency and the
    * per-doc (Df asc, Shingle asc) rank — the THRESHOLD-INDEPENDENT
    * intermediate of the AllPairs prefix-filter family (r17):
    * [[jaccardExact]] and [[containment]] each rebuilt this exact
    * frame (explode + df aggregate + df join + per-doc row_number
    * window) per invocation before applying their OWN integer prefix
    * bound, and [[dedupReport]] re-ran both kernels on top. One row
    * per (doc, shingle): (Shingle, doc_id, N = |doc's shingle set|,
    * Df, Pos). Same owner/invalidate pattern as [[sourceShingles]]. */
  private[ops] def prefixRankedShingles(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "dedup.prefixRankedShingles") {
      val exploded = sharedShingles(spark, dir)
        .withColumn("N", size(col("Sh"))).filter(col("N") > 0)
        .select(col("doc_id"), col("N"), explode(col("Sh")).as("Shingle"))
      val dfCounts = exploded.groupBy(col("Shingle")).agg(count(lit(1)).as("Df"))
      exploded.join(dfCounts, "Shingle")
        .withColumn("Pos", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("Df"), col("Shingle"))))
        .cache()
    }

  /** doc_id + DISTINCT content-defined chunk md5s + total/distinct
    * counts (native one-pass `rolling_chunks`; parameters + the SQL
    * mirror contract in TextOps.Chunk*). Memoized + `.cache()`d like
    * [[docBands]] — the chunk substrate feeds both the per-doc
    * fingerprint query and the containment self-join, and the rolling
    * hash is the most codepoint-heavy sketch pass in the engine. */
  private[graft] def docChunks(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    Substrates.frame(spark, dir, "dedup.docChunks")(
      Tables.documentsSpread(spark, dir)
        .withColumn("Ch", expr("rolling_chunks(text)"))
        .select(col("doc_id"),
          size(col("Ch")).as("NChunks"),
          array_distinct(col("Ch")).as("Chs"))
        .withColumn("NDistinctChunks", size(col("Chs")))
        .cache())
  }

  /** The hot-capped exploded (doc_id, H, ND) chunk listing — one row
    * per below-cap distinct chunk per doc, carrying the doc's
    * below-cap denominator. Memoized + `.cache()`d per (session, dir,
    * cap) like [[cooledBands]]: the containment query self-joins this
    * frame, so without memoization the whole explode → occupancy-cap →
    * denominator chain runs once per join SIDE (measured 6.7× on the
    * gate query). With it, both sides read one cached substrate and
    * the occupancy aggregate runs once per corpus. The boilerplate cap
    * itself (chunk shared by > cap docs is template content; k docs on
    * one hash is k(k-1)/2 pairs, the join's only super-linear term —
    * measured α 1.92 uncapped at the 100× decade) is unchanged, and
    * the denominators still count the SAME below-cap universe as the
    * numerator so the cap bounds join volume without diluting the
    * containment fraction for boilerplate-heavy documents. Released by
    * [[Substrates.invalidate]]. */
  private[ops] def cooledChunks(spark: SparkSession, dir: String,
                                cap: Int = graft.ops.TextOps.HotChunkMaxOccupancy): DataFrame =
    Substrates.frame(spark, dir, "dedup.cooledChunks", cap) {
      val exploded = docChunks(spark, dir)
        .select(col("doc_id"), explode(col("Chs")).as("H"))
      val cooled = exploded.join(
        exploded.groupBy(col("H")).agg(count(lit(1)).as("ChOcc"))
          .filter(col("ChOcc") <= cap).select(col("H")),
        "H")
      cooled.join(
        cooled.groupBy(col("doc_id")).agg(count(lit(1)).as("ND")), "doc_id")
        .cache()
    }

  /** Exact dedup via order-insensitive content fingerprint: canonical
    * id = min doc_id per fingerprint group. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .withColumn("Toks", expr(toksSql))
      .withColumn("Fingerprint", md5(array_join(array_sort(array_distinct(col("Toks"))), " ")))
    fp.withColumn("CanonicalId", min(col("doc_id")).over(Window.partitionBy(col("Fingerprint"))))
      .select(col("doc_id"), col("Fingerprint"), col("CanonicalId"),
        (col("doc_id") =!= col("CanonicalId")).as("IsDup"))
      .orderBy(col("doc_id"))
  }

  /** Substring-level containment pairs via content-defined chunks:
    * docs sharing ≥ [[graft.ops.TextOps.MinChunkOverlap]] of the
    * smaller side's distinct chunks. Catches partial containment
    * (doc A pasted inside doc B) that token-shingle Jaccard dilutes —
    * the shared region's chunks survive verbatim because boundaries
    * are content-defined, while |A ∪ B| grows with the host document.
    * Candidates come from the chunk-keyed equi-join (uniform md5
    * keys, same shape as the shingle verify join — never all-pairs);
    * both the shared-chunk numerator and the per-doc denominators are
    * counted over the below-cap chunk universe, so the boilerplate
    * cap bounds JOIN VOLUME without diluting the containment metric
    * for boilerplate-heavy documents. */
  def chunkOverlap(spark: SparkSession, dir: String,
                   cap: Int = graft.ops.TextOps.HotChunkMaxOccupancy): DataFrame = {
    val ch = cooledChunks(spark, dir, cap)
    ch.select(col("doc_id").as("D1"), col("ND").as("ND1"), col("H"))
      .join(ch.select(col("doc_id").as("D2"), col("ND").as("ND2"), col("H")), "H")
      .filter(col("D1") < col("D2"))
      .groupBy(col("D1"), col("D2"), col("ND1"), col("ND2"))
      .agg(count(lit(1)).as("NShared"))
      .withColumn("OverlapFrac",
        col("NShared").cast(DoubleType) / least(col("ND1"), col("ND2")).cast(DoubleType))
      .filter(col("OverlapFrac") >= graft.ops.TextOps.MinChunkOverlap)
      .select(col("D1"), col("D2"), col("NShared"), col("OverlapFrac"))
      .transform(graft.etl.Summaries.smallSort(_, col("D1"), col("D2")))
  }

  /** Sliding-window width (tokens) for exact-substring duplication
    * evidence — the Lee et al. 2022 "Deduplicating Training Data"
    * signal, which published pipelines run at ~50 tokens; 16 suits
    * this corpus's ~100-token documents. Shared with the mirror. */
  val SpanWindowTokens = 16
  /** Duplicated-window fraction at/above which a doc is flagged. */
  val SpanDupFracFlag = 0.5

  /** EXACT-SUBSTRING duplication profile (position-window dedup, the
    * complement of content-defined chunking): every [[SpanWindowTokens]]-token
    * sliding window is hashed; a window whose hash occurs in ≥ 2
    * DISTINCT documents is cross-document duplicated text, and each
    * doc reports what fraction of its windows are duplicated — the
    * "how much of this document is copied from elsewhere" score that
    * drives substring-level removal decisions.
    *
    * Deliberately NO pair join anywhere: the evidence is per-window
    * document frequency (a count-over-hash window on the distinct
    * (doc, hash) rows — the tfidf df trick), so a boilerplate window
    * shared by 10⁶ docs costs one counted partition, never k(k−1)/2
    * pairs — this query has no super-linear term at all, unlike the
    * containment JOIN in [[chunkOverlap]] which needs its occupancy
    * cap. Cost is one explode pass (n·tokens window rows, ~W× the
    * token count in md5 work), a (doc, hash) partial agg, and the
    * hash-keyed count window — all uniform md5 keys.
    *
    * Docs shorter than the window report zero windows (kept via the
    * left join, fraction 0.0). Within-doc repetition alone does NOT
    * count (df is per distinct doc) — that signal is
    * `text_repetition`'s job. */
  /** The [[SpanWindowTokens]]-token sliding-window md5 array over a
    * `Toks` column — ONE definition for the detection query, the
    * excision query, and (transcribed) the DuckDB mirrors; drift here
    * is a silent hash mismatch in two gate rows. */
  private def winHashArrSql: String = {
    val w = SpanWindowTokens
    s"""CASE WHEN size(Toks) >= $w THEN
       |  transform(sequence(1, size(Toks) - ${w - 1}),
       |    i -> md5(array_join(slice(Toks, i, $w), ' ')))
       |ELSE cast(array() as array<string>) END""".stripMargin
  }

  def spanWindows(spark: SparkSession, dir: String): DataFrame = {
    val wins = Tables.documentsSpread(spark, dir)
      .withColumn("Toks", expr(toksSql))
      .select(col("doc_id"), explode(expr(winHashArrSql)).as("WH"))
    val dw = wins.groupBy(col("doc_id"), col("WH"))
      .agg(count(lit(1)).cast(IntegerType).as("PosCnt"))
    val perDoc = dw
      .withColumn("DfDocs",
        count(lit(1)).over(Window.partitionBy(col("WH"))).cast(IntegerType))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("PosCnt")).as("NW"),
        sum(when(col("DfDocs") >= 2, col("PosCnt")).otherwise(0)).as("ND"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("NW"), lit(0L)).as("NWindows"),
        coalesce(col("ND"), lit(0L)).as("NDupWindows"))
      .withColumn("DupWindowFrac",
        when(col("NWindows") === 0, lit(0.0))
          .otherwise(col("NDupWindows").cast(DoubleType) / col("NWindows")))
      .withColumn("IsFlagged", col("DupWindowFrac") >= SpanDupFracFlag)
      .orderBy(col("doc_id"))
  }

  /** EXACT-SUBSTRING EXCISION — the REMOVAL step on top of
    * [[spanWindows]]' detection (Lee et al. 2022 run both: find
    * duplicated spans, then rewrite the corpus without them). Policy:
    * a duplicated window (hash in ≥ 2 distinct docs) keeps its copy in
    * the OWNER doc (lowest doc_id containing that hash) and is excised
    * everywhere else — token positions covered by any non-owned
    * duplicated window are dropped and the text is rebuilt from the
    * surviving tokens in order (single-space joined; the operator's
    * contract is token-level, so original inter-token whitespace is
    * not preserved).
    *
    * Everything is exact string/integer work (window md5s, position
    * sets, min-owner), so the DuckDB mirror reproduces every rebuilt
    * text byte-for-byte. Scale shape: three narrow corpus passes
    * (window hashing ×2 consumers + the token listing), one
    * hash-keyed owner aggregate, one (doc, pos) anti-join — NO pair
    * join anywhere, the same property that made spanWindows' decade
    * α 0.54: excision volume rides window df, never doc pairs. */
  def spanExcise(spark: SparkSession, dir: String): DataFrame = {
    val w = SpanWindowTokens
    // Pinning TRIED and REVERTED (r18): JobProfileProbe shows the
    // tokenize running 3× and the window-md5 pass 2× across the
    // consumers, so docs/wins localCheckpoint pins looked like the
    // theilsen/basket win — measured WORSE (FreshRunProbe min-of-5
    // 1.53 → 1.93 s): each eager pin is a BARRIER, serializing
    // subtrees the unpinned plan runs as concurrent overlapping
    // stages, and at sf0.1 the lost overlap exceeds the saved
    // recompute. At cluster scale the duplicate-CPU argument may
    // invert the trade; re-measure there before re-applying.
    val docs = Tables.documentsSpread(spark, dir)
      .withColumn("Toks", expr(toksSql))
    val wins = docs.select(col("doc_id"),
      posexplode(expr(winHashArrSql)).as(Seq("P0", "WH")))
    val owner = wins.groupBy(col("WH"))
      .agg(min(col("doc_id")).as("MinDoc"),
        countDistinct(col("doc_id")).as("DfDocs"))
      .filter(col("DfDocs") >= 2)
    val covered = wins.join(owner, "WH")
      .filter(col("doc_id") =!= col("MinDoc"))
      .select(col("doc_id"),
        explode(expr(s"sequence(cast(P0 + 1 as bigint), cast(P0 + $w as bigint))")).as("Pos"))
      .distinct()
    val kept = docs
      .select(col("doc_id"), posexplode(col("Toks")).as(Seq("P0t", "Tok")))
      .withColumn("Pos", (col("P0t") + 1).cast(LongType))
      .join(covered, Seq("doc_id", "Pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("NKept"),
        expr("array_join(transform(array_sort(collect_list(struct(Pos, Tok))), x -> x.Tok), ' ')")
          .as("CleanText"))
    docs.select(col("doc_id"), size(col("Toks")).cast(LongType).as("NTokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("NTokens"),
        coalesce(col("NKept"), lit(0L)).as("NKept"),
        (col("NTokens") - coalesce(col("NKept"), lit(0L))).as("NRemoved"),
        coalesce(col("CleanText"), lit("")).as("CleanText"))
      .orderBy(col("doc_id"))
  }

  /** MinHash signatures + LSH band values per doc (the sketch stage). */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    docBands(spark, dir)
      .select(col("doc_id"), col("B1"), col("B2"), col("B3"), col("B4"))
      .orderBy(col("doc_id"))

  /** Near-dup pairs: LSH candidates verified with exact shingle
    * Jaccard ≥ 0.5. */
  def neardupPairs(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(spark, dir).orderBy(col("D1"), col("D2"))

  /** The verified near-dup pair set (D1 < D2), unordered — shared by
    * the presentation query above and the clustering stage below. */
  /** (doc_id, band_id, band_val) rows of the cached sketch table —
    * the LSH bucket listing both self-join dedup and incremental
    * (new-vs-corpus) dedup join on. */
  private def explodedBands(bands: DataFrame): DataFrame =
    bands.select(col("doc_id"),
      explode(expr(
        "array(named_struct('band_id', 1, 'band_val', B1)," +
          " named_struct('band_id', 2, 'band_val', B2)," +
          " named_struct('band_id', 3, 'band_val', B3)," +
          " named_struct('band_id', 4, 'band_val', B4))")).as("b"))
      .select(col("doc_id"), col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))

  /** Band-bucket occupancy above which a bucket is treated as
    * boilerplate and EXCLUDED from LSH blocking — the one real 100 TB
    * skew risk in the dedup stack: a bucket of k docs contributes
    * k(k−1)/2 candidate pairs, so one boilerplate band value shared by
    * 10⁶ near-empty documents would emit 5·10¹¹ candidates from a
    * single bucket. Capping occupancy bounds any bucket's contribution
    * at ~32K pairs and the verify volume at Σ min(occ,T)² — linear in
    * buckets again.
    *
    * The trade is explicit and deliberate: a NEAR-DUP CLUSTER larger
    * than T that collides on no other band loses pairs. T sits well
    * above real near-dup cluster sizes (pairs/triples; exact-dup
    * floods are [[exact]]'s job and detected there at any size) and
    * well below boilerplate scale. The oracle mirrors the same
    * threshold from this constant, so the cap is part of the QUERY
    * DEFINITION, not a silent engine divergence; on the test corpus
    * the max occupancy is far below T (asserted in SkewSpec), so
    * every verified pair is unchanged. */
  val HotBandMaxOccupancy = 256

  /** Band rows minus the hot buckets: an occupancy aggregate joined
    * back on the band keys. NOT free — measured ~0.65 s per execution
    * at sf0.1 (two extra exchanges; the aggregate does not get its
    * exchange reused into the blocking join) — which is why the
    * production query path rides the MEMOIZED [[cooledBands]] cache
    * below instead of recomputing this per call: the components loop
    * in particular re-evaluates its edges plan per propagation round
    * whenever its per-call cache is under storage pressure, and an
    * uncached cap would multiply across rounds (caught as a 4.5×
    * bench regression in round 6). */
  private[graft] def coolBands(exploded: DataFrame,
                               cap: Int = HotBandMaxOccupancy): DataFrame =
    exploded.join(
      exploded.groupBy(col("band_id"), col("band_val"))
        .agg(count(lit(1)).as("BandOcc"))
        .filter(col("BandOcc") <= cap)
        .select(col("band_id"), col("band_val")),
      Seq("band_id", "band_val"))

  /** The hot-capped (doc_id, band_id, band_val) listing, memoized +
    * `.cache()`d per (session, dir) — the shared blocking substrate of
    * the self-join dedup family (Jaccard, edit-distance, components
    * edges). Tiny (≤ 4 rows per doc) and consumed repeatedly, so the
    * cap's occupancy join runs once per corpus, not once per query
    * execution. Released by [[Substrates.invalidate]]. */
  private def cooledBands(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "dedup.cooledBands")(
      coolBands(explodedBands(docBands(spark, dir))).cache())

  /** LSH candidate pairs (band agreement, D1 < D2) — the blocking
    * stage shared by the Jaccard verify and the edit-distance verify.
    * One distinct (D1, D2) row per colliding pair; never all-pairs,
    * and never a hot-bucket blowup ([[cooledBands]]). */
  private def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    selfJoinPairs(cooledBands(spark, dir))

  /** The blocking self-join over any (doc_id, band_id, band_val)
    * frame — seam for the planted-hot-band test. */
  private[graft] def candidatePairsFrom(exploded: DataFrame): DataFrame =
    selfJoinPairs(coolBands(exploded))

  /** The blocking self-join over an (already cooled) band listing. */
  private def selfJoinPairs(cool: DataFrame): DataFrame = {
    val a = cool.select(col("doc_id").as("D1"), col("band_id"), col("band_val"))
    val b = cool.select(col("doc_id").as("D2"), col("band_id").as("band_id2"), col("band_val").as("band_val2"))
    a.join(b,
        col("band_id") === col("band_id2") &&
          col("band_val") === col("band_val2") &&
          col("D1") < col("D2"))
      .select(col("D1"), col("D2")).distinct()
  }

  /** Memoized + `.cache()`d like [[cooledBands]]: the verified pair
    * set is a corpus-level artifact consumed by three queries
    * (near-dup presentation, edit-distance blocking comparison,
    * components edges) and re-running the candidate join + Jaccard
    * verify per execution repriced every one of them. Row volume is
    * the near-dup pair count — orders of magnitude below the corpus.
    * Released by [[Substrates.invalidate]]. */
  private def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "dedup.verifiedPairs") {
      // One sketch pass (memoized cache in docBands): the band self-join
      // and both shingle lookups reuse it instead of recomputing 8
      // MinHash functions per reference (3× the dominant cost otherwise).
      val sh = docBands(spark, dir).select(col("doc_id"), col("Sh"))
      jaccardVerified(
        candidatePairs(spark, dir)
          .join(sh.select(col("doc_id").as("D1"), col("Sh").as("Sh1")), "D1")
          .join(sh.select(col("doc_id").as("D2"), col("Sh").as("Sh2")), "D2"),
        "Sh1", "Sh2")
        .select(col("D1"), col("D2"), col("NInter"), col("NUnion"), col("Jaccard"))
        .cache()
    }

  /** Minimum normalized edit similarity (1 − dist/maxlen) for a
    * verified pair: the test corpus is bimodal (true near-dups ≥ 0.97,
    * band false-positives ≤ 0.33), so 0.8 sits in the gap. */
  val EditSimThreshold = 0.8

  /** Edit-distance verified near-dup pairs — the character-level
    * verification flavor: same LSH blocking as [[neardupPairs]], but
    * candidates are confirmed with exact Levenshtein distance instead
    * of shingle Jaccard. Catches small in-place edits (typo-level
    * rewrites) that token-shingle Jaccard scores the same as larger
    * ones, and is the standard verify for short strings (titles, URLs,
    * names).
    *
    * Scale: Levenshtein is O(len²) per pair, so it NEVER runs
    * all-pairs — only the LSH-blocked candidate set pays it, and the
    * candidate count is tuned by the band shape. The distance is
    * Spark's native codegen'd `levenshtein`; the oracle uses DuckDB's
    * independent implementation (classic DP — identical integers on
    * ASCII text). */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    editDistanceVerified(
      candidatePairs(spark, dir)
        .join(docs.select(col("doc_id").as("D1"), col("text").as("T1")), "D1")
        .join(docs.select(col("doc_id").as("D2"), col("text").as("T2")), "D2"),
      "T1", "T2")
      .select(col("D1"), col("D2"), col("EditDist"), col("EditSim"))
      .orderBy(col("D1"), col("D2"))
  }

  /** Exact Levenshtein verify over candidate rows carrying both texts
    * — one definition, transcribed by the DuckDB mirror. */
  private[graft] def editDistanceVerified(cand: DataFrame,
                                          left: String, right: String): DataFrame =
    cand
      .withColumn("EditDist", levenshtein(col(left), col(right)))
      .withColumn("EditSim",
        lit(1.0) - col("EditDist").cast(DoubleType) /
          greatest(length(col(left)), length(col(right))))
      .filter(col("EditSim") >= EditSimThreshold)

  /** Jaccard threshold for a verified near-dup pair. */
  val JaccardThreshold = 0.5

  /** Exact shingle-Jaccard verify over candidate rows carrying both
    * shingle arrays — ONE definition for the self-join, the
    * incremental query, and the streaming kernel (they must never
    * drift; the DuckDB mirrors transcribe this expression). */
  private[graft] def jaccardVerified(cand: DataFrame,
                                     left: String, right: String): DataFrame =
    cand
      .withColumn("NInter", size(array_intersect(col(left), col(right))))
      .withColumn("NUnion", size(col(left)) + size(col(right)) - col("NInter"))
      .withColumn("Jaccard", col("NInter").cast(DoubleType) / col("NUnion"))
      .filter(col("Jaccard") >= JaccardThreshold)

  /** Arrival split for [[incremental]]: ids ≡ [[NewArrivalRemainder]]
    * (mod [[NewArrivalMod]]) play the "newly ingested batch"; the rest
    * are the already-indexed corpus. */
  val NewArrivalMod = 10
  val NewArrivalRemainder = 9

  /** INCREMENTAL dedup — the ingestion-time shape: a new batch of
    * documents is checked against the EXISTING corpus without
    * re-pairing the corpus with itself. New-side band rows join
    * corpus-side band rows on (band_id, band_val); only those
    * candidates get the exact shingle-Jaccard verify. Cost per batch:
    * sketch the batch (narrow) + a band join whose corpus side is,
    * in production, a band INDEX written once and bucketed on
    * band_val (the BucketSpec/IVF write-once pattern — here both
    * sides come from the session's cached sketch table, which is the
    * same join shape minus the disk seam). Corpus-vs-corpus pairs
    * never form, so a batch of b docs costs O(b · bucket occupancy),
    * not O((corpus + b)²) — re-running the full self-join per batch
    * is the thing this operator exists to avoid. */
  def incremental(spark: SparkSession, dir: String): DataFrame =
    incrementalAgainst(spark,
      Tables.documents(spark, dir)
        .filter(col("doc_id") % NewArrivalMod === NewArrivalRemainder),
      // the corpus side is the PERSISTED bucketed index (build-if-absent)
      // — joined on exactly its bucket keys, so it contributes no
      // exchange; only the arriving batch shuffles (BandIndexSpec)
      spark.table(bandIndexTable(spark, dir)))
      .orderBy(col("NewId"), col("CorpusId"))

  /** The incremental-dedup KERNEL: sketch `newDocs` (documents-shaped
    * rows), join their band rows against the static corpus band index
    * `(CorpusId, band_id, band_val, ShC)`, exact-Jaccard-verify the
    * collisions. The index's ShC rides the band join (no second
    * corpus-wide shingle join — only the batch's own ShN travels).
    * Shared verbatim by the batch query above and the streaming
    * foreachBatch twin (graft.streaming.DocsStream). */
  def incrementalAgainst(spark: SparkSession, newDocs: DataFrame,
                         corpusBands: DataFrame): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    val newSide = newDocs
      .select(col("doc_id").as("NewId"), expr("token_shingles(text)").as("ShN"))
      .withColumn("Bands", expr("minhash_bands(ShN)"))
      .select(col("NewId"), col("ShN"),
        posexplode(col("Bands")).as(Seq("BandIdx", "band_val")))
      .select(col("NewId"), col("ShN"),
        (col("BandIdx") + 1).as("band_id"), col("band_val"))
    jaccardVerified(
      newSide.join(corpusBands, Seq("band_id", "band_val"))
        .select(col("NewId"), col("CorpusId"), col("ShN"), col("ShC"))
        .dropDuplicates("NewId", "CorpusId"),
      "ShN", "ShC")
      .select(col("NewId"), col("CorpusId"), col("NInter"), col("NUnion"), col("Jaccard"))
  }

  /** The indexed-corpus side of incremental dedup as a static
    * relation `(CorpusId, band_id, band_val, ShC)` — the session's
    * cached sketch table. Consumed by the streaming twin
    * (graft.streaming.DocsStream.runIncrementalDedup) and as the
    * build input of the PERSISTED index below. */
  def corpusBandIndex(spark: SparkSession, dir: String): DataFrame = {
    val corpus = docBands(spark, dir)
      .filter(!(col("doc_id") % NewArrivalMod === NewArrivalRemainder))
    // hot buckets are excluded AT INDEX TIME ([[coolBands]]): an
    // arriving batch joining a boilerplate bucket of occupancy k would
    // otherwise fan out |batch|·k rows per band — with the cap, probe
    // volume is bounded by |batch|·bands·T for a freshly built (or
    // freshly compacted) index; between [[bandAppend]] compactions,
    // cross-batch accumulation can exceed T by at most the appended
    // deltas (append-time cooling is batch-local; [[compactBandIndex]]
    // restores the corpus-wide invariant)
    coolBands(explodedBands(corpus))
      .join(corpus.select(col("doc_id"), col("Sh")), "doc_id")
      .select(col("doc_id").as("CorpusId"),
        col("band_id"), col("band_val"), col("Sh").as("ShC"))
  }

  /** Serializes band-index build/register/drop/append/compact — same
    * reasoning as SimilarityOps.ivfBuildLock: the batch query, the
    * streaming twin, and the concurrent Verify harness can all touch
    * the index at once. Taken inside the registry's key lock, never
    * around a registry call that may build or release an index entry
    * (see [[Substrates]]). */
  private val bandBuildLock = new Object

  /** Buckets for the persisted band index. */
  val BandIndexBuckets = 16

  /** Catalog table name for (session, dir): readable slug + md5 of the
    * raw dir (sanitization alone is lossy — same injectivity argument
    * as the IVF index path). Lowercased by [[BucketedTables.tableName]]
    * so the name always matches the warehouse directory Spark's
    * case-insensitive catalog actually writes. */
  private def bandIndexName(dir: String): String =
    BucketedTables.tableName("graft_bands", dir)

  /** Fingerprint of the corpus an index was built from (md5 over the
    * documents parquet's file names, sizes, and mtimes). Written next
    * to the index as `_corpus_fingerprint` (underscore-prefixed —
    * parquet readers skip it) and compared before any cross-session
    * re-registration: a refreshed corpus must REBUILD, not silently
    * adopt the stale index. */
  private[graft] def corpusFingerprint(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "documents.parquet")
    def one(f: java.nio.file.Path) =
      s"${f.getFileName}:${java.nio.file.Files.size(f)}:${java.nio.file.Files.getLastModifiedTime(f).toMillis}"
    val s =
      if (java.nio.file.Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(p)
        try listing.iterator().asScala.toSeq.sortBy(_.toString).map(one).mkString("|")
        finally listing.close()
      } else one(p)
    graft.functions.TextExpressions.md5Hex(s)
  }

  /** Build (or REBUILD) the persisted corpus band index: the
    * `(CorpusId, band_id, band_val, ShC)` rows written ONCE as a
    * catalog table `bucketBy(16, band_id, band_val)` + sorted within
    * buckets. This is the write-once/probe-many half of ingestion-time
    * dedup: every subsequent batch joins the index on exactly the
    * bucket keys, so the CORPUS side is never re-shuffled — only the
    * (small) arriving batch moves (plan-asserted in BandIndexSpec).
    * Returns the table name. Pre-drops table AND location: the
    * default in-memory catalog forgets tables across sessions while
    * the warehouse directory persists, and `saveAsTable` refuses a
    * dangling location. */
  private def buildBandIndex(spark: SparkSession, dir: String): String = bandBuildLock.synchronized {
    val name = bandIndexName(dir)
    BucketedTables.dropWithFiles(spark, name)
    corpusBandIndex(spark, dir)
      .write.mode("overwrite")
      .bucketBy(BandIndexBuckets, "band_id", "band_val")
      .sortBy("band_id", "band_val")
      .saveAsTable(name)
    BucketedTables.writeFingerprint(spark, name, corpusFingerprint(dir))
    name
  }

  /** Build-if-absent: registry entry → catalog table → files already on
    * disk from a PREVIOUS session (re-registered as an external
    * bucketed table — the in-memory catalog can't remember it, but the
    * bucketed layout is still there) → build, via the shared
    * [[BucketedTables.resolve]] ladder. EVERY branch is guarded by the
    * `_corpus_fingerprint` check — catalog hit included, since a
    * sibling session sharing the catalog could otherwise adopt a table
    * built from a corpus refreshed since; a stale index is rebuilt,
    * never adopted. The ladder runs under [[bandBuildLock]] inside
    * the registry's key lock. The entry's release drops the table AND
    * its files (managed tables drop files with the table; EXTERNAL
    * re-registrations do not); the name is a function of the dir, so
    * the entry stays valid across appends and compactions.
    * Same-session corpus mutation still requires
    * [[Substrates.invalidate]]. */
  def bandIndexTable(spark: SparkSession, dir: String): String =
    Substrates[String](spark, dir, "dedup.bandIndex")(n =>
      bandBuildLock.synchronized(BucketedTables.dropWithFiles(spark, n))) {
      bandBuildLock.synchronized {
        val name = bandIndexName(dir)
        val loc = BucketedTables.location(spark, name)
        BucketedTables.resolve(spark, name,
          registerDdl =
            s"""CREATE TABLE $name (CorpusId BIGINT, band_id INT, band_val STRING, ShC ARRAY<STRING>)
               |USING PARQUET
               |CLUSTERED BY (band_id, band_val) SORTED BY (band_id, band_val)
               |INTO $BandIndexBuckets BUCKETS
               |LOCATION '${loc.toUri}'""".stripMargin,
          fingerprint = corpusFingerprint(dir),
          build = () => buildBandIndex(spark, dir))
      }
    }

  /** Compact the band index after every this-many appended batches
    * (each append adds a file generation per occupied bucket; the
    * build's own file count is task-count-dependent, so batch count —
    * already tracked in the fingerprint — is the stable trigger). */
  val BandCompactEveryBatches = 8

  /** Append new corpus documents (documents-shaped rows) to the
    * persisted band index WITHOUT a rebuild — the text mirror of
    * SimilarityOps.ivfAppend. The batch is sketched with the same
    * native expressions as the build, exploded to
    * `(CorpusId, band_id, band_val, ShC)`, and appended THROUGH the
    * table's bucket spec (`bucketBy(band_id, band_val)`), so the new
    * rows land hash-co-located with the existing ones and every
    * subsequent incremental probe keeps its zero-corpus-side-exchange
    * join — the batch is the only thing that shuffles, at append time,
    * once. The fingerprint keeps its corpus line and bumps the
    * `batches:<N>` count ([[BucketedTables]] format).
    *
    * Appends never unbalance the BUCKETING (hash on band keys), but
    * each batch adds a file generation per bucket; every
    * [[BandCompactEveryBatches]] batches, [[compactBandIndex]]
    * rewrites the table in place — the small-files half of the
    * maintenance loop (the IVF side's skew recluster analogue; there
    * is no codebook to re-learn here).
    *
    * Callers own the arrival/corpus split contract: a doc appended
    * here is CORPUS from then on — later batches probing the index
    * will see it (exactly the semantics an ingestion pipeline wants:
    * admit a batch, then dedup the next batch against it). */
  def bandAppend(spark: SparkSession, dir: String, newDocs: DataFrame): String = {
    val name = bandIndexTable(spark, dir)
    graft.functions.ShingleExpressions.register(spark)
    val batches = bandBuildLock.synchronized {
      // BATCH-LOCAL hot-bucket cooling at append time (a flood batch
      // sharing one band value must not insert a hot bucket), plus a
      // full corpus-wide re-cool at every compaction below — between
      // compactions, cross-batch accumulation can exceed the cap by at
      // most the appended deltas, the documented maintenance window
      coolBands(newDocs
        .select(col("doc_id"), expr("token_shingles(text)").as("Sh"))
        .withColumn("Bands", expr("minhash_bands(Sh)"))
        .select(col("doc_id"), col("Sh"),
          posexplode(col("Bands")).as(Seq("BandIdx", "band_val")))
        .select(col("doc_id").as("CorpusId"),
          (col("BandIdx") + 1).as("band_id"), col("band_val"),
          col("Sh").as("ShC")))
        .select(col("CorpusId"), col("band_id"), col("band_val"), col("ShC"))
        .write.mode("append")
        .bucketBy(BandIndexBuckets, "band_id", "band_val")
        .sortBy("band_id", "band_val")
        .saveAsTable(name)
      BucketedTables.bumpAppendedBatches(
        BucketedTables.location(spark, name).resolve("_corpus_fingerprint"))
    }
    if (batches % BandCompactEveryBatches == 0) compactBandIndex(spark, dir)
    name
  }

  /** Rewrite the band index from its own content — one file
    * generation per bucket again — preserving the appended-batch
    * count. Content is staged to a sibling directory first (never
    * read-and-overwrite the same files in one job), then the table is
    * rebuilt under the lock.
    *
    * Crash window (documented, not hidden): a failure between the
    * table drop and the rebuilt `saveAsTable` leaves only the staged
    * copy on disk — the next [[bandIndexTable]] would rebuild from the
    * CORPUS, losing appended batches (the stage dir survives for
    * manual recovery). Same non-transactional-rewrite caveat as any
    * plain-parquet table maintenance; a production deployment runs
    * compaction through a transactional table format. */
  def compactBandIndex(spark: SparkSession, dir: String): String = bandBuildLock.synchronized {
    val name = bandIndexName(dir)
    val loc = BucketedTables.location(spark, name)
    val batches = BucketedTables.appendedBatches(loc.resolve("_corpus_fingerprint"))
    val stage = loc.resolveSibling(s"${name}_stage")
    BucketedTables.deleteRecursively(stage)
    spark.table(name).write.mode("overwrite").parquet(stage.toString)
    BucketedTables.dropWithFiles(spark, name)
    // corpus-wide re-cool: buckets that crossed the occupancy cap via
    // cross-batch accumulation (append-time cooling is batch-local)
    // are evicted here, restoring the exact cap invariant a
    // from-scratch build over the same documents would have
    coolBands(spark.read.parquet(stage.toString))
      .select(col("CorpusId"), col("band_id"), col("band_val"), col("ShC"))
      .write.mode("overwrite")
      .bucketBy(BandIndexBuckets, "band_id", "band_val")
      .sortBy("band_id", "band_val")
      .saveAsTable(name)
    BucketedTables.writeFingerprint(spark, name, corpusFingerprint(dir) +
      (if (batches > 0) s"\nbatches:$batches" else ""))
    BucketedTables.deleteRecursively(stage)
    name
  }

  /** Hard upper bound on label-propagation rounds — a runaway
    * backstop, NOT the convergence mechanism (the loop exits as soon
    * as a round changes zero labels). Min-label propagation needs at
    * most `diameter` rounds, and 64 covers any component a dedup
    * pipeline could meet (a diameter-64 near-dup chain means 64
    * successive pairwise-similar docs with no shortcut edges). */
  private[ops] val MaxLabelRounds = 64

  /** Connected components of an undirected pair list by min-label
    * propagation, iterated UNTIL CONVERGENCE (round 3's fixed 8-round
    * loop silently under-merges any component of diameter > 8 — a
    * 9-hop near-dup chain would split into two clusters with no
    * error; the planted-chain case in OpsSpec proves this loop
    * resolves what the fixed bound could not).
    *
    * Shape: the bidirected edge list is AUGMENTED WITH SELF-LOOPS, so
    * each round is exactly one join + one min-aggregate in which the
    * previous label table appears ONCE — `labels ⋈ edges on
    * doc_id=src, groupBy dst, min(label)`. (A naive "neighbor-min then
    * left-join back" round references the previous labels twice,
    * doubling the lazy lineage per round — 2^R recomputations of the
    * sketch pipeline.) The self-loops make every node its own
    * neighbor, so the aggregate both keeps non-improving labels and
    * retains singleton nodes; cost per round is O(|V| + |E|) shuffled
    * on uniform doc_id keys.
    *
    * Iteration mechanics (the 100 TB loop, ONE Spark job per TWO
    * rounds — round 4 spent two actions per round, a checkpoint
    * materialization plus a convergence join; round 7 halved the
    * action count again by chaining two lazy rounds per convergence
    * check — a zero-changes round is still detected, at most one
    * (cheap, same-job) extra round after true convergence):
    *  - each node's PREVIOUS label rides the round's propagation
    *    aggregate for free: the self-loop edge is the only input row
    *    with `src == dst`, so `min(when(src = dst, label))` recovers
    *    the node's own round-(R-1) label inside the same groupBy that
    *    computes its round-R min — no second join with the previous
    *    table;
    *  - the iteration's label table is marked for LAZY
    *    `localCheckpoint` and the convergence check (`count of Changed
    *    rows == 0`) is the action that materializes it — both rounds'
    *    joins/aggregates, the checkpoint write, and the changed-count
    *    all ride ONE job;
    *  - lineage still truncates at every iteration (it joins the
    *    previous iteration's STORED blocks, not a deep lazy replay),
    *    and only the current and previous iterations are ever
    *    referenced, so the live set is 2·|touched| label rows
    *    regardless of round count (older checkpoints are swept by the
    *    ContextCleaner once unreferenced);
    *  - loop parallelism follows the DATA, not the session: the pair
    *    list is cached and counted once (the caller's pair plan
    *    executes exactly once) and the edge list is hash-partitioned
    *    on `src` into ⌈3·|pairs|/100k⌉ partitions BEFORE caching — a
    *    few hundred edges in 32 partitions would otherwise pay 32
    *    task launches per stage per round, and the cached hash
    *    partitioning means each round reshuffles only the label side,
    *    never the edges. At scale the clamp leaves session
    *    parallelism untouched.
    * SUBGRAPH RESTRICTION (round 7): the loop runs over the
    * EDGE-TOUCHED vertices only. A vertex with no edges can never
    * change its label, so propagating |V| identity rows through every
    * round was pure overhead — in a real dedup corpus the touched set
    * is a small fraction of the corpus (duplicates are the exception,
    * not the rule), which shrinks each round's shuffle from O(|V|+|E|)
    * to O(|E|) and lets AQE collapse the tiny rounds to broadcast
    * joins. Untouched ids rejoin ONCE at the end as identity labels
    * (one left join + coalesce) — R rounds × |V| rows traded for
    * 1 × |V|.
    *
    * The returned frame is the final checkpoint left-joined to `ids`:
    * one broadcast-sized join over |V| rows, not the iterative lineage.
    *
    * Hitting [[MaxLabelRounds]] while the last round still changed
    * labels THROWS instead of returning: a truncated loop yields
    * silently under-merged clusters — the exact defect the
    * convergence check exists to prevent — and no caller can detect
    * it from the output.
    *
    * `edges` is cached by THIS method and unpersisted in a `finally`
    * before it returns, loop failure included (the checkpointed
    * result no longer references it) — the cache has a single owner
    * instead of leaning on CacheManager plan-dedup across calls.
    *
    * PRECONDITION: every vertex in `pairs` must appear in `ids` — the
    * output is exactly one label row per id (pair vertices absent from
    * `ids` are dropped by the final left join; before round 7's
    * edge-touched-only loop they appeared in the output via the
    * identity edges, so callers relying on that would silently lose
    * rows). Every current caller passes the full corpus id set. Run
    * with `-Dgraft.debug.checks=true` to verify the containment per
    * call (one anti-join count — too expensive to leave on). */
  def componentsOf(pairs: DataFrame, ids: DataFrame,
                   maxRounds: Int = MaxLabelRounds): DataFrame = {
    val spark = pairs.sparkSession
    if (sys.props.get("graft.debug.checks").contains("true")) {
      val orphans = pairs.toDF("D1", "D2")
        .select(col("D1").as("v")).union(pairs.toDF("D1", "D2").select(col("D2").as("v")))
        .distinct()
        .join(ids.toDF("v"), Seq("v"), "left_anti").count()
      require(orphans == 0L,
        s"componentsOf precondition violated: $orphans pair vertices absent from ids " +
          "(their labels would be silently dropped by the ids join)")
    }
    // cache the pair list itself: the caller's pair plan (typically the
    // LSH-verify pipeline) executes ONCE — the sizing count below rides
    // it, and the edge build reads the cache
    val bidir = pairs.toDF("D1", "D2").cache()
    val nPairs = bidir.count()
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    // |edges| ≤ 3·|pairs| (bidirected + self-loops); size the loop to
    // the data — at scale the clamp keeps session parallelism
    val loopParts = math.max(1L, math.min(sessionParts.toLong,
      (3L * nPairs) / 100000L + 1L)).toInt
    // only vertices with at least one edge can ever change label:
    // restrict the loop to them, rejoin the rest at the end
    val touched = bidir.select(col("D1").as("doc_id"))
      .union(bidir.select(col("D2").as("doc_id")))
      .distinct()
    // hash-partitioned on src BEFORE caching: the cached partitioning
    // is visible to the planner, so every round's join reshuffles only
    // the (smaller) label side, never the edge list
    val edges = bidir
      .union(bidir.select(col("D2"), col("D1")))
      .union(touched.select(col("doc_id"), col("doc_id")))
      .toDF("src", "dst")
      .repartition(loopParts, col("src"))
      .cache()
    // one propagation round as a lazy transformation over the cached
    // edges (using-column join: safe when chained twice in one plan)
    def step(labels: DataFrame): DataFrame =
      edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst"))
        .agg(min(col("ClusterId")).as("ClusterId"),
          min(when(col("src") === col("dst"), col("ClusterId"))).as("PrevId"))
        .select(col("dst").as("doc_id"), col("ClusterId"),
          (col("ClusterId") =!= col("PrevId")).as("Changed"))
    try {
      // materializes the edge cache as a side effect (eager checkpoint)
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("ClusterId"))
        .localCheckpoint()
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        // two lazy rounds per action (never past the cap): the
        // convergence count on the SECOND still detects a zero-change
        // first round, at the cost of one cheap same-job extra round
        val steps = math.min(2, maxRounds - round)
        var adv = step(labels)
        if (steps == 2) adv = step(adv.select(col("doc_id"), col("ClusterId")))
        round += steps
        val next = adv.localCheckpoint(eager = false)
        // the iteration's single action: materializes the checkpoint
        // blocks AND decides convergence from the rows it just computed
        converged = next.filter(col("Changed")).count() == 0L
        labels = next.select(col("doc_id"), col("ClusterId"))
      }
      if (!converged)
        throw new IllegalStateException(
          s"componentsOf: labels still changing after $maxRounds rounds " +
            "(component diameter exceeds the backstop); refusing to return " +
            "silently under-merged clusters")
      // untouched vertices are their own cluster: identity labels via
      // one left join against the (small, checkpointed) loop output
      ids.toDF("doc_id")
        .join(labels.withColumnRenamed("ClusterId", "PropagatedId"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("PropagatedId"), col("doc_id")).as("ClusterId"))
    } finally {
      edges.unpersist(false)
      bidir.unpersist(false)
    }
  }

  /** Near-dup clustering — the last stage of a real dedup pipeline:
    * turn the verified pair EDGES into connected components and pick
    * one canonical survivor per component (min doc_id). Emits every
    * document: singletons are their own survivor, members of a dup
    * cluster keep `IsSurvivor = false` unless they carry the minimum
    * id. Clustering itself is [[componentsOf]] (convergence-checked
    * min-label propagation); the oracle is DuckDB's recursive-CTE TRUE
    * transitive closure, so any under-merge is a hash mismatch. */

  /** The corpus near-dup component labeling — (doc_id, ClusterId),
    * node-sized — memoized + `.cache()`d per (session, dir) like the
    * LPA labeling (r17): FOUR gate queries consume this exact loop
    * output (`dedup_components`, `dedup_survivor_quality`,
    * `curate_corpus`, and the curation funnel/pipeline via
    * curationFlags), and each invocation re-ran the convergence loop
    * over the same memoized verified pairs. [[componentsOf]] itself
    * stays memo-free — probes and other domains measure the real
    * loop. Evicted by [[Substrates.invalidate]]. */
  private[graft] def componentLabelsFor(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "dedup.componentLabels") {
      componentsOf(verifiedPairs(spark, dir).select(col("D1"), col("D2")),
        Tables.documents(spark, dir).select(col("doc_id"))).cache()
    }

  def components(spark: SparkSession, dir: String): DataFrame =
    componentLabelsFor(spark, dir)
      .select(col("doc_id"), col("ClusterId"),
        (col("doc_id") === col("ClusterId")).as("IsSurvivor"))
      .orderBy(col("doc_id"))

  /** QUALITY-AWARE survivor selection — the keep-best policy real
    * dedup pipelines apply instead of [[components]]' keep-lowest-id:
    * within each near-dup cluster the surviving copy is the one with
    * the highest quality score (ties to the lowest doc_id — exact
    * copies share identical integer-derived scores, so the tie-break
    * carries real weight). Reuses the verified-pair clustering and THE
    * quality formula (TextOps.qualityScoreCol — single definition with
    * the quality query and the mirror).
    *
    * The survivor argmax is an aggregate `min(struct(-score, doc_id))`
    * — map-side combinable, so the per-cluster reduction shuffles one
    * row per cluster, never a window sort over members; the survivor
    * table joins back on ClusterId (cluster-count-sized — AQE
    * broadcasts it at any realistic dup rate). Output is per-doc
    * (corpus-linear), so presentation keeps the distributed range
    * sort per smallSort's applicability rule. */
  def componentsQualitySurvivors(spark: SparkSession, dir: String): DataFrame = {
    val scored = componentLabelsFor(spark, dir)
      .join(graft.ops.TextOps.quality(spark, dir)
        .select(col("doc_id"), col("QualityScore")), "doc_id")
    val survivors = scored.groupBy(col("ClusterId"))
      .agg(min(struct(negate(col("QualityScore")), col("doc_id"))).as("mn"))
      .select(col("ClusterId"), col("mn.doc_id").as("SurvivorId"))
    scored.join(survivors, "ClusterId")
      .select(col("doc_id"), col("ClusterId"), col("QualityScore"),
        col("SurvivorId"), (col("doc_id") === col("SurvivorId")).as("IsSurvivor"))
      .orderBy(col("doc_id"))
  }

  /** SimHash-family sketch: 8 hex positions of per-token md5s, each
    * position's bit = coordinate mean ≥ 7.5 (integer compare: 2·sum ≥
    * 15·count). Docs sharing the 8-bit sketch land in one bucket.
    * Sketching is the native one-pass `simhash_bits` expression — one
    * md5 per distinct token feeding all 8 bit positions (the previous
    * declarative form ran 8 interpreted HOF lambdas, re-hashing every
    * token once per position). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    Tables.documentsSpread(spark, dir)
      .withColumn("Simhash", expr("simhash_bits(text)"))
      .withColumn("BucketSize", count(lit(1)).over(Window.partitionBy(col("Simhash"))).cast(IntegerType))
      .select(col("doc_id"), col("Simhash"), col("BucketSize"))
      .orderBy(col("doc_id"))
  }

  /** [[JaccardThreshold]] as the exact rational Num/Den — the prefix
    * and length filters below do their ceil arithmetic in integers,
    * so the blocking guarantee never hinges on double rounding. */
  private val JaccardNum = 1
  private val JaccardDen = 2

  /** EXACT similarity self-join via prefix filtering (the AllPairs /
    * PPJoin family — Bayardo, Ma & Srikant, WWW 2007; Xiao et al.,
    * WWW 2008): every pair with shingle Jaccard ≥ [[JaccardThreshold]],
    * with a ZERO-false-negative guarantee the LSH path cannot give.
    *
    * Blocking argument (lossless, unlike banding): order each doc's
    * shingles by ascending global document frequency (ties by value —
    * any consistent total order works), and keep only the first
    * p = |S| − ⌈t·|S|⌉ + 1 as the doc's PREFIX. If Jaccard(x,y) ≥ t
    * then |x∩y| ≥ t·|x∪y| ≥ ⌈t·|x|⌉, so y must contain at least one
    * of x's first p shingles — otherwise the intersection fits inside
    * x's last ⌈t·|x|⌉ − 1 positions, a contradiction. The candidate
    * join is therefore prefix(lower-id doc) ⋈ full shingle listing
    * (higher-id doc) on the shingle value: every qualifying pair
    * appears; only candidates pay the exact verify.
    *
    * Scale shape: one df aggregate over the exploded shingles (the
    * same volume every dedup pass already shuffles), a per-doc
    * row_number window (doc-sized partitions), and a shingle-keyed
    * equi-join whose prefix side holds each doc's globally RAREST
    * shingles — the df-ascending order is what keeps the join
    * fan-out small, and the t·max ≤ min length filter prunes
    * mismatched-size collisions before the verify. No cartesian
    * anywhere (plan-asserted). At boilerplate-heavy extremes the
    * LSH+cap path stays the throughput default; this operator is the
    * recall-1.0 variant for when missing a duplicate is not
    * acceptable — and its oracle is the full brute-force quadratic
    * join, so the gate proves the losslessness claim rather than
    * assuming it. */
  def jaccardExact(spark: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingles(spark, dir)
    val ranked = prefixRankedShingles(spark, dir)
    // integer prefix length |S| − ⌈t·|S|⌉ + 1, applied ON the shared
    // rank (the ordering never depended on the threshold)
    val prefix = ranked
      .filter(col("Pos") <=
        col("N") - expr(s"CAST((N * $JaccardNum + ${JaccardDen - 1}) DIV $JaccardDen AS INT)") + 1)
      .select(col("Shingle"), col("doc_id").as("D1"), col("N").as("N1"))
    val full = ranked
      .select(col("Shingle").as("ShF"), col("doc_id").as("D2"), col("N").as("N2"))
    val cand = prefix.join(full,
        col("Shingle") === col("ShF") &&
          col("D1") < col("D2") &&
          // Jaccard ≥ Num/Den ⟹ Den·min(|x|,|y|) ≥ Num·max(|x|,|y|)
          col("N1") * JaccardDen >= col("N2") * JaccardNum &&
          col("N2") * JaccardDen >= col("N1") * JaccardNum)
      .select(col("D1"), col("D2")).distinct()
    jaccardVerified(
      cand
        .join(sh.select(col("doc_id").as("D1"), col("Sh").as("Sh1")), "D1")
        .join(sh.select(col("doc_id").as("D2"), col("Sh").as("Sh2")), "D2"),
      "Sh1", "Sh2")
      .select(col("D1"), col("D2"), col("NInter"), col("NUnion"), col("Jaccard"))
      .orderBy(col("D1"), col("D2"))
  }

  /** Containment threshold |A∩B|/|A| ≥ 4/5 as an exact rational. */
  val ContainNum = 4L
  val ContainDen = 5L

  /** SHINGLE-CONTAINMENT NEAR-DUP — the ASYMMETRIC complement of
    * [[jaccardExact]]: ordered pairs (Inner, Outer) where
    * |Inner ∩ Outer| / |Inner| ≥ [[ContainNum]]/[[ContainDen]], i.e.
    * the inner doc's shingles are mostly contained in the outer's.
    * Jaccard misses exactly this case (a short doc quoted inside a
    * long one has tiny union-normalized similarity); containment is
    * the standard detector for quote/subset/boilerplate-embedding
    * relations (Broder's resemblance-vs-containment split, 1997).
    *
    * Prefix filtering adapts one-sidedly: C ≥ t ⟹ |Inner\Outer| ≤
    * (1−t)·|Inner|, and Inner's prefix of length
    * |Inner| − ⌈t·|Inner|⌉ + 1 is longer than that, so at least one
    * PREFIX shingle of Inner lands in Outer — candidates =
    * prefix(Inner) ⋈ FULL listing(Outer), with only the one-sided
    * size bound |Outer| ≥ t·|Inner| (cross-multiplied in integers;
    * no upper bound — a small doc inside a huge one is the point).
    * Prefix ordering is globally-rarest-first (the jaccardExact
    * fan-out discipline; correctness is ordering-independent).
    * Verification is exact: NInter·Den ≥ |Inner|·Num, and the
    * reported Containment is ONE deterministic division.
    *
    * Scale shape: identical to [[jaccardExact]] — shingle substrate
    * shared, df counts one hash agg, candidates bounded by prefix
    * rarity, exact verify only on candidates. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingles(spark, dir)
    val ranked = prefixRankedShingles(spark, dir)
    val prefix = ranked
      .filter(col("Pos") <=
        col("N") - expr(s"CAST((N * $ContainNum + ${ContainDen - 1}) DIV $ContainDen AS INT)") + 1)
      .select(col("Shingle"), col("doc_id").as("DA"), col("N").as("NA"))
    val full = ranked
      .select(col("Shingle").as("ShF"), col("doc_id").as("DB"), col("N").as("NB"))
    val cand = prefix.join(full,
        col("Shingle") === col("ShF") &&
          col("DA") =!= col("DB") &&
          col("NB") * ContainDen >= col("NA") * ContainNum)
      .select(col("DA"), col("DB")).distinct()
    cand
      .join(sh.select(col("doc_id").as("DA"), col("Sh").as("ShA")), "DA")
      .join(sh.select(col("doc_id").as("DB"), col("Sh").as("ShB")), "DB")
      .withColumn("NShingles", size(col("ShA")))
      .withColumn("NInter", size(array_intersect(col("ShA"), col("ShB"))))
      .filter(col("NInter") * ContainDen >= col("NShingles") * ContainNum)
      .select(col("DA").as("InnerId"), col("DB").as("OuterId"),
        col("NShingles"), col("NInter"),
        (col("NInter").cast(DoubleType) / col("NShingles")).as("Containment"))
      .orderBy(col("InnerId"), col("OuterId"))
  }

  /** CORPUS DEDUP HEALTH CARD — one row per dedup method (exact
    * fingerprint, exact Jaccard ≥ ½, containment ≥ ⅘) with its LINK
    * count, the docs a keep-canonical policy would REMOVE (exact:
    * non-canonical group members; jaccard: the higher id of each
    * pair; containment: the contained doc), and the removal rate —
    * the summary a pipeline operator reads before committing a dedup
    * pass, composed from the three oracle-green kernels so the card
    * can never drift from the queries it summarizes. NLinks is
    * uniformly the edge count of each method's duplicate graph as
    * that method REPORTS it: jaccard/containment emit one row per
    * discovered pair, exact emits one row per non-canonical member —
    * a star to the canonical doc, so its NLinks equals NAffected by
    * construction (the column was previously named NPairs, which
    * misread as "all within-group pairs" for the exact method).
    * Counts are integers, each rate ONE division; methods ordered by
    * name. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    val n = broadcast(graft.etl.Tables.documents(spark, dir)
      .agg(count(lit(1)).as("NDocs")))
    def row(method: String, pairs: DataFrame, affectedCol: String): DataFrame =
      pairs.agg(count(lit(1)).as("NLinks"),
        countDistinct(col(affectedCol)).as("NAffected"))
        .select(lit(method).as("Method"), col("NLinks"), col("NAffected"))
    // the three kernels are independent pair-sized frames: pin them as
    // CONCURRENT jobs (BucketedTables.pinAllEager rationale, r17) so
    // the card's wall is the slowest kernel, not their sum
    val Seq(cont, ex, jac) = graft.ops.BucketedTables.pinAllEager(Seq(
      containment(spark, dir),
      exact(spark, dir).filter(col("IsDup")).select(col("doc_id").as("A")),
      jaccardExact(spark, dir)))
    val rows = row("containment", cont, "InnerId")
      .union(row("exact", ex, "A"))
      .union(row("jaccard", jac, "D2"))
    rows.crossJoin(n)
      .withColumn("RemovalRate",
        col("NAffected").cast(DoubleType) / col("NDocs"))
      .select(col("Method"), col("NLinks"), col("NAffected"),
        col("NDocs"), col("RemovalRate"))
      .orderBy(col("Method"))
  }
}
