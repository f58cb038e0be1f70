package graft

import org.apache.spark.sql.SparkSession

/** THE session builder — every main/tool/spec in this engine builds
  * its session here, so an engine-wide conf exists in exactly ONE
  * place. Round 14 landed the ObjectHashAggregate fallback threshold
  * by hand-editing ~20 builder sites (commit 1b9a90f); the next
  * engine-wide conf (or the next probe written from a stale template)
  * would have missed one SILENTLY — a probe publishing numbers at
  * default session settings while claiming engine settings is the
  * config version of the shingle-hash split round 13 debugged.
  * `SessionConfigSpec` makes a bare `SparkSession.builder()` under
  * src/main unwritable (source-scan assertion), the same enforcement
  * shape as the shared-hash `shingleHashCol` seam.
  *
  * What every session gets (each line carries its own measurement or
  * incident rationale — see Bench's scaladoc for the host-stall and
  * codegen-cache stories):
  *   - `local[cpus]` with `cpus` from SPARK_GRAFT_CPUS (per-site
  *     default; gate surfaces use 32, the Verify dump 4);
  *   - shuffle width = `cpus`; the scale-critical joins size their
  *     own exchanges (SimilarityOps.candidatePartitions);
  *   - the ObjectHashAggregate hash-path threshold
  *     ([[graft.functions.SketchAggregates.ObjectHashFallbackThreshold]]
  *     — Spark's default 128 groups sort-degrades every realistic
  *     TypedImperative aggregation, 2.1× on the routed-kNN probe);
  *   - UTC session time zone (oracle parity with DuckDB);
  *   - AQE on (Spark's default, pinned so a future default flip
  *     cannot silently change every published plan);
  *   - `nanosAsLong` (the events fixture ships TIMESTAMP(NANOS));
  *   - codegen class cache 5000 (default 100 thrashes under the
  *     162-query interleaved suite: pagerank 6.2 → 2.9 s);
  *   - 800s/60s network/heartbeat (this host shows multi-minute
  *     whole-VM stalls; a tripped heartbeat kills the local executor
  *     mid-measurement);
  *   - UI off, WARN logs;
  *   - every graft native function, through [[GraftExtensions]]: the
  *     session state is built with them, and so is that of every
  *     `newSession()` sibling and `foreachBatch` clone. */
object GraftSession {

  /** Read an env override that must be a positive integer, failing
    * with the variable NAME in the message: a malformed value
    * otherwise surfaces as an opaque master-URL or conf parse failure
    * deep inside session build. */
  private[graft] def positiveIntEnv(name: String, default: String): String = {
    val v = sys.env.getOrElse(name, default)
    require(v.nonEmpty && v.length <= 9 && v.forall(_.isDigit) && v.toInt > 0,
      s"$name must be a positive integer, got '$v'")
    v
  }

  /** The shared builder. Callers that need a non-standard session
    * shape chain onto it (`GraftSession.builder(2).appName(...)`) or
    * pass probe-specific confs via [[local]]'s `extraConfs`. */
  def builder(defaultCpus: Int = 32): SparkSession.Builder = {
    val cpus = positiveIntEnv("SPARK_GRAFT_CPUS", defaultCpus.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        graft.functions.SketchAggregates.ObjectHashFallbackThreshold)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Shuffle/broadcast/spill codec: zstd, not Spark's lz4 default.
      // The engine's hot shuffles carry QUANTIZED VECTORS — 64-long
      // arrays whose values fit in 15 bits, so ~75% of every UnsafeRow
      // is sign-fill bytes. lz4's match-only compression barely
      // touches them; zstd's entropy stage does. Measured at the 20M
      // corpus (KnnSampleProbe 200/1/4472, round 15): steady rep
      // 246.5 s → 87.3 s (2.8×), shuffle write 11.7 → 7.6 GB, spill
      // 7.2 → 2.9 GB — identical plans, codec the only change. At
      // cluster scale the same bytes are network. (The full-20M disk
      // exhaustion this probe first hit was a SEPARATE defect —
      // one-row shuffle slices from fan-out-sized exchanges defeat
      // ANY codec; see SimilarityOps.MinShuffleRowsPerTask.)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.network.timeout", "800s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
  }

  /** Build (or join) the local session at engine settings and set WARN
    * logs. `extraConfs` is for probe-specific tuning (e.g.
    * StateStoreAbProbe's state-store provider) — note `getOrCreate`
    * ignores confs when a session already exists in the JVM, exactly
    * as the hand-rolled builders did. */
  def local(defaultCpus: Int = 32,
            extraConfs: Seq[(String, String)] = Nil): SparkSession = {
    val b = builder(defaultCpus)
    extraConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
