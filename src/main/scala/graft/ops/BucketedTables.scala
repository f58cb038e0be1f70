package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileVisitOption, Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.Substrates

/** The one persisted-index form. Every index the engine writes to disk
  * and serves across sessions is a [[Form]]: the band index
  * (DedupOps), and the IVF, IVF-PQ and flat-PQ indexes
  * (SimilarityOps). [[resolve]] is the one ladder that serves or
  * rebuilds them: registry entry, then a servable index on disk, else
  * a rebuild by the family's writer.
  *
  * == Servable ==
  * An index is servable when every part holds its `_SUCCESS` and the
  * manifest holds exactly the form's layout version and the
  * [[fingerprint]] of its input. A rebuild deletes the base, runs the
  * writer, and writes the manifest last, through a temp file and an
  * atomic rename. So a crash anywhere in a build leaves no manifest,
  * and the next resolve rebuilds. Any other manifest (empty, another
  * layout, another input, a leftover line) reads stale too. The
  * manifest is underscore-prefixed, so parquet readers skip it.
  *
  * The check runs on every resolution that misses the registry, a
  * catalog hit included: a sibling session sharing the catalog could
  * otherwise adopt a table built from a corpus since refreshed on
  * disk, while queries on the primary layout rebuild, and two
  * "identical" queries would return different rows. A derived form
  * ([[Form.derived]], the IVF-PQ layer over the IVF base) takes its
  * base's manifest as its input, so a rebuilt base makes it stale.
  *
  * == Catalog tables ==
  * A form with a [[Table]] (the band index) is also a catalog table. A
  * servable index with a catalog entry is served; servable files with
  * no entry are re-registered EXTERNAL by the table's DDL; anything
  * else is dropped and rebuilt MANAGED by the writer.
  *
  * == Case folding ==
  * Spark folds table identifiers to lower case
  * (`spark.sql.caseSensitive=false` default), so a managed table's
  * files land under `<warehouse>/<lowercased-name>` regardless of the
  * name's spelling. [[location]] lowercases, and [[tableName]]
  * lowercases its slug too, so the catalog name and the on-disk
  * directory can never disagree (a mixed-case corpus dir would
  * otherwise write the manifest beside a directory that does not
  * exist and leak the real files on invalidation).
  *
  * == Locking ==
  * One lock serializes every mutation of an index location (a build, a
  * re-registration, a release) across all sessions of the JVM. It is
  * taken inside the [[graft.Substrates]] key lock of the index's
  * entry, so a writer touches only registry keys whose build takes no
  * index lock; a derived form resolves its base before taking it. A
  * registry hit takes no lock and touches no file.
  */
private[graft] object BucketedTables {

  /** The file that commits an index. */
  private[graft] val Manifest = "_manifest"

  private val lock = new Object

  /** A catalog table over a form's base: its name, and the DDL that
    * registers the base's files as an EXTERNAL table. */
  final case class Table(name: String, ddl: String)

  /** An index on disk: the `parts` under `base` whose `_SUCCESS` commit
    * them (`.` for files written straight into the base), the version
    * of their encoding, and the input they derive from. */
  final case class Form(base: Path, parts: Seq[String], layout: String, input: Path,
                        table: Option[Table] = None) {
    def manifest: Path = base.resolve(Manifest)

    /** A form under `sub` of this one, built from this one's files: its
      * input is this form's manifest. */
    def derived(sub: String, parts: Seq[String], layout: String): Form =
      Form(base.resolve(sub), parts, layout, manifest)
  }

  /** The registered index of `form`, built by `write` unless a servable
    * one is on disk. `write` gets the form, writes its parts under an
    * empty base, and for a [[Table]] saves the table. The entry's
    * release drops the table and deletes the base. */
  def resolve(spark: SparkSession, dir: String, kind: String, params: Any*)(form: => Form)(
      write: Form => Unit): Form =
    Substrates[Form](spark, dir, kind, params: _*)(f => lock.synchronized(drop(spark, f))) {
      val f = form
      lock.synchronized {
        val manifest = s"layout ${f.layout}\ninput ${fingerprint(f.input)}\n"
        if (servable(f, manifest))
          f.table.foreach(t => if (!spark.catalog.tableExists(t.name)) spark.sql(t.ddl))
        else {
          drop(spark, f)
          write(f)
          val tmp = f.base.resolve(s"$Manifest.tmp")
          Files.write(tmp, manifest.getBytes(UTF_8))
          Files.move(tmp, f.manifest, StandardCopyOption.ATOMIC_MOVE)
        }
      }
      f
    }

  private def servable(f: Form, manifest: String): Boolean =
    f.parts.forall(p => Files.exists(f.base.resolve(p).resolve("_SUCCESS"))) &&
      Files.exists(f.manifest) && new String(Files.readAllBytes(f.manifest), UTF_8) == manifest

  private def drop(spark: SparkSession, f: Form): Unit = {
    f.table.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    deleteRecursively(f.base)
  }

  /** md5 over the name (relative to `input`'s parent), size and mtime
    * of every file at or under `input`: what an index is built from.
    * The whole tree, so a partitioned layout rewritten in place, which
    * changes only a leaf file's mtime, reads as changed. */
  def fingerprint(input: Path): String = {
    import scala.jdk.CollectionConverters._
    val in = input.toAbsolutePath
    val walk = Files.walk(in, FileVisitOption.FOLLOW_LINKS) // must close: holds dir handles
    val files =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
      finally walk.close()
    graft.functions.TextExpressions.md5Hex(files.map(f =>
      s"${in.getParent.relativize(f)}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}")
      .mkString("|"))
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

  /** Delete `p` and everything under it, if it exists. Errors are
    * thrown: the index drops rely on the files being gone. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p) // must close: holds dir handles
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
}
