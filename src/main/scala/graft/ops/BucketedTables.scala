package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Shared machinery for write-once persisted BUCKETED catalog tables
  * (the band index in DedupOps, the bucketed lists twin in
  * SimilarityOps): one implementation of the
  * registry entry → catalog → on-disk-re-registration → build ladder, so its
  * correctness properties — freshness guarding on EVERY branch,
  * lowercased locations, file cleanup — exist in exactly one place.
  *
  * == Case folding ==
  * Spark folds table identifiers to lower case
  * (`spark.sql.caseSensitive=false` default), so a managed table's
  * files land under `<warehouse>/<lowercased-name>` regardless of the
  * name's spelling. Every path derivation here lowercases; name
  * builders lowercase their slugs too, so the catalog name and the
  * on-disk directory can never disagree (a mixed-case corpus dir would
  * otherwise write the fingerprint beside a directory that does not
  * exist and leak the real files on invalidation).
  *
  * == Freshness ==
  * `_corpus_fingerprint` (underscore-prefixed — parquet readers skip
  * it) is checked on EVERY resolution branch, including a catalog hit:
  * a sibling session sharing the catalog could otherwise adopt a table
  * built from a corpus that has since been refreshed on disk, while
  * queries on the primary layout rebuild — two "identical" queries
  * returning different rows.
  *
  * == Locking ==
  * Callers hold their own build lock around [[resolve]] (inside the
  * [[graft.Substrates]] key lock of their entry) — the ladder itself
  * is not thread-safe, by design: the lock also covers the caller's
  * other index mutations.
  */
private[graft] object BucketedTables {

  /** Eagerly localCheckpoint several INDEPENDENT small frames as
    * CONCURRENT jobs (guide §2.6 — overlap independent jobs so one
    * arm's scheduling tail backfills with the next arm's tasks; r17):
    * composite cards (retrieval_eval's six method arms, dedup_report's
    * three kernels) materialize dozens of sub-second AQE jobs, and
    * running them sequentially bills one dispatch latency per job —
    * JobProfileProbe measured retrieval_eval at 105 jobs × ~45 ms.
    * Spark's FIFO scheduler interleaves jobs submitted from these
    * driver threads; each frame's own plan is untouched, so results
    * are unaffected. Use ONLY for frames whose checkpointed size is
    * bounded (method lists, report rows) — the pinned blocks live
    * until the frames are GC'd. */
  def pinAllEager(dfs: Seq[org.apache.spark.sql.DataFrame]): Seq[org.apache.spark.sql.DataFrame] = {
    if (dfs.size <= 1) return dfs.map(_.localCheckpoint())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(dfs.size)
    try {
      val futs = dfs.map { df =>
        pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call(): org.apache.spark.sql.DataFrame = df.localCheckpoint()
        })
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** Lowercased slug + md5-of-raw-dir table name (sanitization alone
    * is lossy; the hash makes dir → name injective). */
  def tableName(prefix: String, dir: String, suffix: String = ""): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
      .toLowerCase(java.util.Locale.ROOT)
    val h = graft.functions.TextExpressions.md5Hex(dir).substring(0, 8)
    s"${prefix}_${slug}_$h$suffix"
  }

  /** Where the warehouse puts (or put) the table's files. */
  def location(spark: SparkSession, name: String): Path =
    Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      name.toLowerCase(java.util.Locale.ROOT))

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }

  /** DROP the catalog entry AND its files (managed tables drop files
    * with the table; external re-registrations do not). */
  def dropWithFiles(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    deleteRecursively(location(spark, name))
  }

  /** Record the corpus fingerprint beside the just-built table. */
  def writeFingerprint(spark: SparkSession, name: String, fp: String): Unit =
    Files.writeString(location(spark, name).resolve("_corpus_fingerprint"), fp)

  /** Fingerprint FORMAT (shared with the IVF index's sibling file):
    * line 1 = the md5 of the corpus the index derives from; an
    * optional line 2 `batches:<N>` counts incrementally APPENDED
    * batches. Freshness compares line 1 only — an appended index is
    * still an index OF its corpus (plus extras the appender chose to
    * add); a REPLACED corpus invalidates regardless of appends. */
  def corpusLine(raw: String): String =
    // total on empty/truncated files (writeString is not atomic — a
    // crash can leave a 0-byte fingerprint): "" never equals a real
    // md5, so the caller's freshness check reads stale-and-rebuild
    // instead of throwing forever
    raw.linesIterator.nextOption().getOrElse("")

  /** Read the appended-batch count (0 for a never-appended index). */
  def appendedBatches(fpFile: Path): Int =
    if (!Files.exists(fpFile)) 0
    else Files.readString(fpFile).linesIterator.toSeq.drop(1).headOption
      .flatMap(_.stripPrefix("batches:").toIntOption).getOrElse(0)

  /** Bump the appended-batch count in a fingerprint file, preserving
    * its corpus line. Caller holds the index's build lock. */
  def bumpAppendedBatches(fpFile: Path): Int = {
    val n = appendedBatches(fpFile) + 1
    Files.writeString(fpFile,
      s"${corpusLine(Files.readString(fpFile))}\nbatches:$n")
    n
  }

  private def fresh(spark: SparkSession, name: String, fingerprint: => String): Boolean = {
    val f = location(spark, name).resolve("_corpus_fingerprint")
    Files.exists(f) && corpusLine(Files.readString(f)) == fingerprint
  }

  /** The ladder below the registry entry: a FRESH catalog table wins; a
    * fresh on-disk layout from a previous session re-registers as an
    * external table (`registerDdl`); anything else (absent OR stale
    * either way) rebuilds via `build` (which must pre-drop). Caller
    * holds its build lock. */
  def resolve(spark: SparkSession, name: String, registerDdl: String,
              fingerprint: => String, build: () => String): String =
    if (spark.catalog.tableExists(name) && fresh(spark, name, fingerprint)) name
    else if (!spark.catalog.tableExists(name) &&
      Files.exists(location(spark, name).resolve("_SUCCESS")) &&
      fresh(spark, name, fingerprint)) {
      spark.sql(registerDdl)
      name
    } else build()
}
