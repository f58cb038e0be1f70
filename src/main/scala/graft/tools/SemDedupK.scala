package graft.tools


/** Scale probe for the semantic-dedup cluster-count policy: time
  * `semanticDedup` at several K on one corpus. The intra-cluster
  * self-join costs Σ n_c² ≈ n²/K, so FIXED K is quadratic in corpus
  * size while K grown O(n) holds per-cluster size — and this prints
  * the measured curve that backs the scaladoc's "K grows with n"
  * policy (PERFORMANCE.md round-6 rehearsal).
  *
  * A third arg `hier` (or `both`) times `semanticDedupHierarchical`
  * at the same K instead of (as well as) the flat-lists form — the
  * round-11 instrument for clocking the FULL query at the 2M decade
  * under the policy K, where the flat assignment is already routed
  * into the index build and the hier variant re-derives assignment
  * through the two-level route.
  *
  * usage: runMain graft.tools.SemDedupK <dir> [k1,k2,...] [flat|hier|both]
  */
object SemDedupK {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val ks = (if (args.length > 1) args(1) else "16,64,128")
      .split(',').map(_.trim.toInt)
    val mode = if (args.length > 2) args(2) else "flat"
    // shuffle partitions are a SEPARATE axis from parallelism at the
    // 20M-vector decade: the k-means dims explode is n·64 rows, and
    // with partitions == cpus each concurrent task sort-merges
    // n·64/cpus rows — at 20M that is 40M rows per task whose sort
    // buffers exhaust the execution pool (measured: 96g heap,
    // UNABLE_TO_ACQUIRE_MEMORY in the assign join's shuffle at 35 min;
    // 256 partitions cut per-task state 8× and AQE re-coalesces the
    // small downstream stages). Since round 14 BOTH the verify join
    // AND the k-means update join size their own exchanges
    // (SimilarityOps.candidatePartitions — the 20M build computes the
    // hand-tuned 256 from n·Dims), so a raised session shuffle width
    // is no longer a requirement at any decade
    val spark = graft.GraftSession.local()
    def race(name: String, build: Int => org.apache.spark.sql.DataFrame): String = {
      val results = ks.map { k =>
        def once(): Double = {
          val df = build(k)
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val w = {
          val t0 = System.nanoTime()
          once() // warmup + index build-if-absent at this K
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[semdedupk] $name k=$k warmup+build $w%.1f s")
        k -> Seq(once(), once()).min
      }
      val qjson = results
        .map { case (k, s) =>
          s""""k$k":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(s))}""" }
        .mkString("{", ",", "}")
      s""""$name":$qjson"""
    }
    val parts = Seq(
      (if (mode == "flat" || mode == "both")
        Some(race("semantic_dedup",
          k => graft.ops.SimilarityOps.semanticDedup(spark, dir, nCentroids = k)))
      else None),
      (if (mode == "hier" || mode == "both")
        Some(race("semantic_dedup_hier",
          k => graft.ops.SimilarityOps.semanticDedupHierarchical(spark, dir, nCentroids = k)))
      else None)).flatten
    println(s"""{"dir":"$dir",${parts.mkString(",")}}""")
    spark.stop()
  }
}
