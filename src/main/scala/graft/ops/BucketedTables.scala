package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Machinery for write-once persisted BUCKETED catalog tables (the
  * band index in DedupOps): the registry entry → catalog →
  * on-disk-re-registration → build ladder, with freshness guarding on
  * EVERY branch, lowercased locations and file cleanup; plus the one
  * fingerprint check every persisted index shares.
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
  * build and drop.
  */
private[graft] object BucketedTables {

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

  /** Delete `p` and everything under it, if it exists. Errors are
    * thrown: the index drops rely on the files being gone. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p) // must close: holds dir handles
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
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

  /** Whether `f` holds exactly `fingerprint`, the md5 of the corpus
    * the index derives from: the one freshness check of every
    * persisted index (band, IVF, flat PQ). A missing, empty or torn
    * file (`writeString` is not atomic) does not match, nor does one
    * with any extra line, so each reads as stale and the index is
    * rebuilt. */
  def fingerprintMatches(f: Path, fingerprint: String): Boolean =
    Files.exists(f) && Files.readString(f) == fingerprint

  private def fresh(spark: SparkSession, name: String, fingerprint: => String): Boolean =
    fingerprintMatches(location(spark, name).resolve("_corpus_fingerprint"), fingerprint)

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
