package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.SimilarityOps

/** Streaming twin of the embedding ingestion path: vectors arrive as a
  * stream and are checked against the STATIC persisted IVF index
  * (codebook + inverted lists) for near-duplicates before admission.
  *
  * Same architecture as DocsStream: the kernel
  * (SimilarityOps.incrementalDedupAgainst — one definition with the
  * batch query) runs per microbatch via `foreachBatch`, with NO state
  * store. Each arrival lives in exactly one microbatch and the index
  * side is static, so per-batch results compose into exactly the batch
  * answer (StreamingSpec), and nothing grows with stream history — a
  * streaming join against the lists with state would pin every seen
  * vector forever (no watermark can evict by vec_id).
  */
object VecsStream {

  /** Drive the incremental-dedup kernel over a vector stream: each
    * microbatch is quantized, routed to its nprobe nearest centroids,
    * and exact-cosine-verified against only those clusters' inverted
    * lists; `sink` receives the verified (NewId, CorpusId, Cosine)
    * matches (e.g. an upsert into the dup registry). `cent`/
    * `corpusLists` are the persisted index relations
    * (SimilarityOps.ivfIndexPath). */
  def runIncrementalDedup(vecs: DataFrame,
                          cent: DataFrame, corpusLists: DataFrame,
                          threshold: Double = SimilarityOps.DefaultSemDedupThreshold,
                          nprobe: Int = SimilarityOps.DefaultNProbe)
                         (sink: DataFrame => Unit): StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(SimilarityOps.incrementalDedupAgainst(
          SimilarityOps.quantizeArrivals(batch), cent, corpusLists,
          threshold, nprobe))
      }
      .start()

  /** Streaming INDEX MAINTENANCE: each vector microbatch is appended
    * to the persisted IVF index via `SimilarityOps.ivfAppend` —
    * quantize, route against the persisted codebook, partition-local
    * write into only the routed lists (+ the PQ codes if that layer
    * exists), bump the fingerprint's batch count, recluster on skew.
    * This closes the ingestion loop the two kernels above leave open:
    * admit-time dedup probes the index; THIS keeps the index covering
    * what was admitted, one microbatch at a time, without a rebuild.
    *
    * The kernel runs on the BATCH's session (the stream's isolated
    * clone — memo entries must land there, the standard foreachBatch
    * seam in this repo); all index mutations
    * serialize on ivfBuildLock, and microbatches arrive sequentially,
    * so a stream of appends composes into exactly the same index as
    * one batch append of the union (StreamingSpec). */
  def runIndexAppend(dir: String, vecs: DataFrame,
                     nCentroids: Int = SimilarityOps.DefaultNCentroids)
                    (afterBatch: Array[Long] => Unit = _ => ()): StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        afterBatch(SimilarityOps.ivfAppend(batch.sparkSession, dir,
          batch.select("vec_id", "embedding"), nCentroids))
      }
      .start()
}
