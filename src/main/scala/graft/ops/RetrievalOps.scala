package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.Substrates

/** HYBRID RETRIEVAL — reciprocal-rank fusion of the lexical (BM25)
  * and embedding (exact cosine top-k) ranked lists, the canonical
  * two-tower retrieval composition a training-data pipeline runs for
  * eval-set mining and hard-negative sourcing once both substrates
  * exist. The reference's pipeline has no retrieval stage at all
  * (ref: etl.py stops at aggregation); this operator composes two
  * engine substrates that each already mirror to the oracle.
  *
  * Fusion is RRF (Cormack, Clarke & Buettcher, SIGIR 2009):
  * `score(d) = Σ_lists 1/(K + rank_list(d))` with the standard
  * K = [[RrfK]] = 60, summed over the lists that retrieved `d` (a
  * list that missed `d` contributes 0 — the published convention).
  * Rank arithmetic is exact-rational over INTEGER ranks: each term is
  * one exactly-rounded IEEE division of small integers and the final
  * score one addition of two such doubles, so the DuckDB oracle —
  * which nests the two branch mirrors verbatim as CTEs — reproduces
  * every score bit-for-bit (the house determinism playbook; no libm).
  *
  * Query identity: the engine's retrieval workload is
  * [[TextOps.Bm25Queries]]; query `q`'s embedding-side exemplar is
  * probe vector `vec_id = q` (the corpus ships no query encoder — the
  * piiRedact planted-workload pattern), and the fused doc space rides
  * the corpus's 1:1 doc_id ↔ vec_id alignment. Probe ids are checked
  * against [[SimilarityOps.ProbeIdMax]] so the vector branch really
  * contains every query's list.
  *
  * Scale shape: both branches end in bounded per-query top-k
  * (WindowGroupLimit — never a global sort), so the fusion join's
  * inputs are |queries|·k rows EACH regardless of corpus size; the
  * full-outer equi-join on (QueryId, doc_id) and the per-query
  * row_number are driver-trivial at any corpus scale. All the heavy
  * lifting stays inside the two substrates, which keep their own
  * 100 TB shapes (BM25: hit-sized tf pass; cosine: bounded-probe
  * scan). */
object RetrievalOps {

  /** RRF smoothing constant (the SIGIR 2009 default). */
  val RrfK = 60
  /** Fused results reported per query. */
  val RrfTopK = 10

  /** Fused ranking per query: lexical rank, vector rank (null where a
    * branch missed the doc), exact-rational RRF score, fused rank. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfFrom(spark, TextOps.bm25Topk(spark, dir),
      SimilarityOps.topk(spark, dir))

  /** [[hybridRrf]] over caller-supplied branch lists — the seam that
    * lets [[retrievalEval]] reuse its ALREADY-COLLECTED bm25 and exact
    * top-k lists instead of re-executing both branch subtrees (r17);
    * the declared query passes the canonical branches, so the fused
    * values are unchanged. */
  private def hybridRrfFrom(spark: SparkSession, bm25List: DataFrame,
                            exactTopk: DataFrame): DataFrame = {
    val qids = TextOps.Bm25Queries.map(_._1)
    require(qids.forall(q => q >= 0 && q < SimilarityOps.ProbeIdMax),
      s"every BM25 query id must have a probe vector (vec_id < ${SimilarityOps.ProbeIdMax})")
    val lex = bm25List
      .select(col("QueryId"), col("doc_id"), col("Rank").as("LexRank"))
    val vec = exactTopk
      .filter(col("QId").isInCollection(qids.map(_.toLong)))
      .select(col("QId").cast(IntegerType).as("QueryId"),
        col("NId").as("doc_id"), col("Rank").as("VecRank"))
    val w = Window.partitionBy(col("QueryId"))
      .orderBy(col("RrfScore").desc, col("doc_id"))
    lex.join(vec, Seq("QueryId", "doc_id"), "full_outer")
      .withColumn("RrfScore",
        coalesce(lit(1.0) / (lit(RrfK) + col("LexRank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("VecRank")), lit(0.0)))
      .withColumn("Rank", row_number().over(w))
      .filter(col("Rank") <= RrfTopK)
      .select(col("QueryId"), col("doc_id"), col("LexRank"), col("VecRank"),
        col("RrfScore"), col("Rank"))
      .orderBy(col("QueryId"), col("Rank"))
  }

  /** RETRIEVAL-QUALITY EVAL — recall@k and reciprocal rank for every
    * retrieval method in the engine, as one gate query. Before this,
    * the gate proved each method's rank list matches an independent
    * oracle (correct execution) but nothing measured retrieval QUALITY
    * against a declared relevance standard. Two relevance families,
    * both derivable and oracle-expressible:
    *
    *  - LEXICAL (`bm25`, `rrf`, `prf`): a doc is relevant to query q
    *    iff it contains EVERY term of q (conjunctive Boolean
    *    containment — the classic implicit-judgment stand-in when no
    *    human qrels exist; declared relevance semantics, shared with
    *    the mirror). Recall@k = |top-k ∩ relevant| / |relevant|.
    *  - VECTOR (`ivf`, `pq`, `ivfpq`): relevance for probe q is the
    *    EXACT brute-force top-k — the standard ANN recall-vs-exact
    *    metric. `pq`/`ivfpq` reranking exactly means their measured
    *    recall lands at 1.0/IVF-route recall respectively — here that
    *    long-claimed property is a NUMBER in the gate, not a scaladoc
    *    claim.
    *
    * Every metric is an exact rational of small integers (hit counts,
    * 1/first-relevant-rank), so the DuckDB mirror — which nests the
    * method mirrors as CTEs — reproduces each value bit-for-bit. The
    * per-(method, query) grain keeps the row set deterministic even
    * for queries with zero relevant docs (Recall/RR defined 0.0).
    *
    * Scale shape: each method's list is already bounded (|queries|·k);
    * the lexical relevance set is a broadcast-join filter of the
    * cached [[TextOps.docPostings]] substrate aggregated per (query,
    * doc) — hit-sized, the same economics as BM25's tf pass; the
    * vector truth set is the bounded-probe exact scan. All eval joins
    * are |queries|·k vs relevance-set sized. */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qids = TextOps.Bm25Queries.map(_._1)
    // Every method list below is |queries|·k rows but sits on a full
    // method subtree: each is collected to a local relation, so the
    // six-arm union executes each method ONCE. Unshared, bm25 ran three
    // times (own arm + prf feedback + rrf branch) and the exact top-k
    // scan twice (rrf branch + the vector truth), and every arm's
    // subtree re-executed under the final union — measured 6.3 s per
    // materialization at sf0.1 for 36 output rows. The lists are
    // collected in TWO CONCURRENT WAVES (Substrates.local, guide §2.6):
    // collected one after another, they billed one dispatch latency
    // per AQE job (105 jobs × ~45 ms measured).
    // ---- lexical relevance: conjunctive term containment ----
    // the hit set grows with the corpus, not with |queries|·k, and
    // depends only on `dir` and the constant query set: a registry entry
    val rel = Substrates.frame(spark, dir, "retrieval.relevant") {
      val qterms = TextOps.Bm25Queries
        .flatMap { case (qid, q) => q.split("\\s+").distinct.map(qid -> _) }
        .toDF("QueryId", "Term")
      val nq = qterms.groupBy(col("QueryId"))
        .agg(countDistinct(col("Term")).as("NQ"))
      TextOps.docPostings(spark, dir)
        .join(broadcast(qterms), "Term")
        .groupBy(col("QueryId"), col("doc_id"))
        .agg(countDistinct(col("Term")).as("NHit"))
        .join(broadcast(nq), "QueryId")
        .filter(col("NHit") === col("NQ"))
        .select(col("QueryId"), col("doc_id"))
        .cache()
    }
    // wave 1: the two lists every other arm feeds from, and the
    // per-query relevant count, whose job fills the hit-set cache
    val Seq(nRel, bm25List, exactTopk) = Substrates.local(
      rel.groupBy(col("QueryId")).agg(count(lit(1)).as("NRel")),
      TextOps.bm25Topk(spark, dir), SimilarityOps.topk(spark, dir))
    val lexSpine = qids.toDF("QueryId")
    def evalOf(method: String, ranked: DataFrame, truth: DataFrame,
               spine: DataFrame, truthN: DataFrame, k: Int): DataFrame = {
      val hits = ranked.join(truth, Seq("QueryId", "doc_id"))
        .groupBy(col("QueryId"))
        .agg(count(lit(1)).as("Hits"), min(col("Rank")).as("FirstRel"))
      spine
        .join(broadcast(truthN), Seq("QueryId"), "left")
        .join(broadcast(hits), Seq("QueryId"), "left")
        .select(
          lit(method).as("Method"),
          col("QueryId"),
          coalesce(col("NRel"), lit(0L)).as("NRel"),
          lit(k).as("K"),
          coalesce(col("Hits"), lit(0L)).as("Hits"),
          when(coalesce(col("NRel"), lit(0L)) === 0, lit(0.0))
            .otherwise(coalesce(col("Hits"), lit(0L)).cast(DoubleType) /
              col("NRel")).as("Recall"),
          // with |relevant| >> k recall@k is floor-bound; precision@k
          // carries the discriminating lexical signal
          (coalesce(col("Hits"), lit(0L)).cast(DoubleType) / lit(k))
            .as("Precision"),
          when(col("FirstRel").isNull, lit(0.0))
            .otherwise(lit(1.0) / col("FirstRel")).as("RR"))
    }
    // wave 2: the five remaining method lists, concurrent jobs over
    // the wave-1 lists (any first-touch ivf/pq index build happens at
    // frame CONSTRUCTION on this thread, before the concurrent collects)
    val Seq(prfList, rrfList, ivfList, pqList, ivfpqList) = Substrates.local(
      prfExpandFrom(spark, dir, bm25List),
      hybridRrfFrom(spark, bm25List, exactTopk),
      SimilarityOps.ivfTopk(spark, dir),
      SimilarityOps.pqTopk(spark, dir),
      SimilarityOps.ivfpqTopk(spark, dir))
    val lex = Seq(
      evalOf("bm25", bm25List
        .select(col("QueryId"), col("doc_id"), col("Rank")),
        rel, lexSpine, nRel, TextOps.Bm25TopK),
      evalOf("prf", prfList
        .select(col("QueryId"), col("doc_id"), col("Rank")),
        rel, lexSpine, nRel, TextOps.Bm25TopK),
      evalOf("rrf", rrfList
        .select(col("QueryId"), col("doc_id"), col("Rank")),
        rel, lexSpine, nRel, RrfTopK))
    // ---- vector relevance: the exact top-k list ----
    val exact = exactTopk
      .select(col("QId").cast(IntegerType).as("QueryId"),
        col("NId").as("doc_id"))
    val nRelV = exact.groupBy(col("QueryId")).agg(count(lit(1)).as("NRel"))
    val vecSpine = (0 until SimilarityOps.ProbeIdMax).toDF("QueryId")
    def vecRanked(df: DataFrame): DataFrame =
      df.select(col("QId").cast(IntegerType).as("QueryId"),
        col("NId").as("doc_id"), col("Rank"))
    val vec = Seq(
      evalOf("ivf", vecRanked(ivfList),
        exact, vecSpine, nRelV, SimilarityOps.DefaultK),
      evalOf("pq", vecRanked(pqList),
        exact, vecSpine, nRelV, SimilarityOps.DefaultK),
      evalOf("ivfpq", vecRanked(ivfpqList),
        exact, vecSpine, nRelV, SimilarityOps.DefaultK))
    (lex ++ vec).reduce(_.union(_))
      .orderBy(col("Method"), col("QueryId"))
  }

  /** Expansion terms added per query by [[prfExpand]]. */
  val PrfExpansionTerms = 3

  /** PSEUDO-RELEVANCE FEEDBACK (RM3-style query expansion) — the third
    * retrieval primitive after BM25 and RRF: the first-pass BM25 top-k
    * per query is TREATED as relevant, candidate expansion terms are
    * weighted by `Σ_d tf(t, d) · ScoreQ_d` over that feedback set
    * (integer × quantized-long — exact and order-free; RM3's
    * P(t|d)·P(q|d) shape with the engine's quantized score standing in
    * for the query likelihood), the top-[[PrfExpansionTerms]] non-query
    * terms (weight desc, term asc) join the query, and BM25 re-scores
    * the corpus against the EXPANDED term sets. Everything downstream
    * of the exact integer weights is the proven BM25 arithmetic, so
    * the DuckDB mirror — which nests the first-pass mirror verbatim —
    * hash-matches the reranked lists and the expansion terms.
    *
    * Scale shape: every token pass rides the cached
    * [[TextOps.docPostings]] inverted-index substrate — the feedback
    * tf pass is a broadcast join of |queries|·k doc ids into it, the
    * second-pass tf is a broadcast join of the still-tiny expanded
    * vocabulary into it; no per-execution corpus explode remains
    * anywhere in this query. df rides a count-distinct over the hit
    * table; per-query top-k is a WindowGroupLimit. No stage touches
    * corpus×corpus. */
  def prfExpand(spark: SparkSession, dir: String): DataFrame =
    prfExpandFrom(spark, dir, TextOps.bm25Topk(spark, dir))

  /** [[prfExpand]] over a caller-supplied first-pass list (the
    * [[hybridRrfFrom]] seam, r17): [[retrievalEval]] passes its collected
    * bm25 list so the feedback set is not a third re-execution of the
    * first-pass subtree; the declared query passes the canonical
    * first pass, so the expansion and reranked values are unchanged. */
  private def prfExpandFrom(spark: SparkSession, dir: String,
                            firstPass: DataFrame): DataFrame = {
    import spark.implicits._
    val k1 = TextOps.Bm25K1
    val b = TextOps.Bm25B
    val origTerms = TextOps.Bm25Queries
      .flatMap { case (qid, q) => q.split("\\s+").distinct.map(qid -> _) }
      .toDF("QueryId", "Term")
    // (doc, term, tf, doc length): the shared postings substrate
    val docs = TextOps.docPostings(spark, dir)
    val stats = TextOps.docStats(spark, dir)
    // stage 1: the EXISTING gate query is the feedback set
    val fb = firstPass
      .select(col("QueryId"), col("doc_id"), col("ScoreQ"))
    // candidate weights over the FEEDBACK DOCS' vocabularies only (the
    // broadcast semi-join keeps this pass |queries|·k-doc-sized — no
    // corpus-wide tf aggregate exists anywhere in this query),
    // original query terms excluded
    val cand = docs.join(broadcast(fb), "doc_id")
      .join(origTerms, Seq("QueryId", "Term"), "left_anti")
      .groupBy(col("QueryId"), col("Term"))
      .agg(sum(col("Tf").cast(LongType) * col("ScoreQ")).as("Wt"))
    val wExp = Window.partitionBy(col("QueryId"))
      .orderBy(col("Wt").desc, col("Term"))
    val expansion = cand
      .withColumn("rn", row_number().over(wExp))
      .filter(col("rn") <= PrfExpansionTerms)
      .select(col("QueryId"), col("Term"))
    val allq = origTerms.union(expansion).distinct()
    // stage 2: BM25 over the expanded per-query term sets — the tf
    // table is the postings substrate filtered by the broadcast
    // expanded vocabulary, hit-sized
    val hit = docs.join(broadcast(allq.select(col("Term")).distinct()), "Term")
      .select(col("doc_id"), col("Dl"), col("Term"), col("Tf"))
    val dft = hit.groupBy(col("Term"))
      .agg(countDistinct(col("doc_id")).cast(IntegerType).as("Df"))
    val scored = hit
      .join(broadcast(dft), "Term")
      .join(broadcast(allq), "Term")
      .crossJoin(broadcast(stats))
      .withColumn("AvgDl", col("SumDl").cast(DoubleType) / col("NDocs"))
      .withColumn("Idf", (col("NDocs") - col("Df") + 0.5) / (col("Df") + 0.5))
      .withColumn("K",
        lit(k1) * (lit(1.0 - b) + lit(b) * col("Dl") / col("AvgDl")))
      .withColumn("S",
        col("Idf") * (col("Tf") * lit(k1 + 1.0)) / (col("Tf") + col("K")))
      .withColumn("Sq", floor(col("S") * 1e9).cast(LongType))
    val wRank = Window.partitionBy(col("QueryId"))
      .orderBy(col("ScoreQ").desc, col("doc_id"))
    val expStr = expansion.groupBy(col("QueryId"))
      .agg(expr("array_join(array_sort(collect_list(Term)), ',')").as("ExpTerms"))
    scored.groupBy(col("QueryId"), col("doc_id"))
      .agg(sum(col("Sq")).as("ScoreQ"),
        count(lit(1)).cast(IntegerType).as("NTermsHit"))
      .withColumn("Rank", row_number().over(wRank))
      .filter(col("Rank") <= TextOps.Bm25TopK)
      .join(broadcast(expStr), Seq("QueryId"), "left")
      .withColumn("ExpTerms", coalesce(col("ExpTerms"), lit("")))
      .withColumn("Score", col("ScoreQ").cast(DoubleType) / 1e9)
      .select(col("QueryId"), col("doc_id"), col("NTermsHit"),
        col("ScoreQ"), col("Score"), col("Rank"), col("ExpTerms"))
      .orderBy(col("QueryId"), col("Rank"))
  }

  /** Dirichlet smoothing pseudo-count µ for [[queryLikelihoodTopk]] —
    * set near the corpus average doc length (the standard guidance
    * scaled to this corpus's ~30-token docs; the classic 2000 assumes
    * web-document lengths and would flatten every score here). */
  val QlMu = 25L

  /** QUERY-LIKELIHOOD retrieval with Dirichlet smoothing (Ponte &
    * Croft 1998; Zhai & Lafferty 2001) — the language-modeling
    * scoring family next to BM25's probabilistic-relevance one, over
    * the same query workload and postings substrate. The standard
    * decomposition scores only HIT terms plus a per-doc length
    * penalty: log p(Q|D) = Σ_{t∈Q∩D} log(1 + tf·C/(µ·ctf)) +
    * |Q|·log(µ/(dl+µ)) + const(Q).
    *
    * Exactness: both log terms are quantized to INTEGER BITS with the
    * perplexity floor-log2 quantizer (`len(bin(x div y)) − 1` — all
    * integer arithmetic, no libm), so ScoreBits is an exact integer
    * in both engines and ranking is the total order (bits desc,
    * doc_id). Declared semantics — the engine DEFINES QL at bit
    * resolution, as ⚠Q defines qcut. Int64 ceiling: tf·C overflows
    * long once the corpus passes ~10¹⁷ tokens / µ·ctf — promote to
    * decimal(38,0) there (the pagerank rule).
    *
    * Scale shape: identical to [[TextOps.bm25Topk]] — query terms are
    * a broadcast literal filtering the cached postings substrate
    * (hit-sized), ctf is a vocabulary-of-query-terms aggregate, C is
    * the 1-row docStats broadcast, and the per-query top-k is a
    * WindowGroupLimit. */
  def queryLikelihoodTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps.{Bm25Queries, Bm25TopK}
    val spark0 = spark
    import spark0.implicits._
    val allTerms = Bm25Queries.flatMap(_._2.split("\\s+")).distinct.sorted
    val tf = TextOps.docPostings(spark, dir).filter(col("Term").isInCollection(allTerms))
    val ctf = tf.groupBy(col("Term")).agg(sum(col("Tf")).cast(LongType).as("Ctf"))
    val stats = TextOps.docStats(spark, dir)
    val queries = Bm25Queries
      .flatMap { case (qid, q) => q.split("\\s+").distinct.map(qid -> _) }
      .toDF("QueryId", "Term")
    val qlen = queries.groupBy(col("QueryId")).agg(count(lit(1)).as("QLen"))
    val hits = tf
      .join(broadcast(ctf), "Term")
      .crossJoin(broadcast(stats))
      .join(broadcast(queries), "Term")
      .withColumn("HitBits",
        (length(expr(s"bin(($QlMu * Ctf + Tf * SumDl) div ($QlMu * Ctf))")) - 1)
          .cast(IntegerType))
    val w = Window.partitionBy(col("QueryId"))
      .orderBy(col("ScoreBits").desc, col("doc_id").asc)
    hits.groupBy(col("QueryId"), col("doc_id"), col("Dl"))
      .agg(sum(col("HitBits")).as("HitBitsSum"),
        count(lit(1)).cast(IntegerType).as("NTermsHit"))
      .join(broadcast(qlen), "QueryId")
      .withColumn("ScoreBits",
        (col("HitBitsSum") -
          col("QLen") * (length(expr(s"bin((Dl + $QlMu) div $QlMu)")) - 1))
          .cast(LongType))
      .withColumn("Rank", row_number().over(w))
      .filter(col("Rank") <= Bm25TopK)
      .select(col("QueryId"), col("doc_id"), col("NTermsHit"),
        col("ScoreBits"), col("Rank"))
      .orderBy(col("QueryId"), col("Rank"))
  }
}
