package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.Substrates
import graft.etl.Tables
import graft.ops.BucketedTables

/** The one-shot contract every driver-gate stream twin runs under: the
  * fixture is staged as a file stream, the query drains everything
  * staged and stops, its sink rows come back as a local frame, and no
  * staging dir, sink view or ts-sniff cache entry outlives the call.
  *
  *   - [[apply]] opens a [[Scope]]: temp dirs created through it are
  *     deleted, and their ts encodings forgotten, in one `finally`.
  *   - [[Scope.stage]] copies a fixture path (one parquet file or a
  *     directory tree of part files) into a fresh dir the file source
  *     takes whole in its first trigger.
  *   - [[name]] is the one sink-name counter: Verify runs twins
  *     concurrently and Bench re-runs each, so names must not collide.
  *   - [[drain]] runs `start → processAllAvailable` with `stop` in a
  *     `finally`.
  *   - [[memorySink]] reads a memory sink back as a local relation
  *     ([[graft.Substrates.local]]); [[batchRows]] returns the rows of
  *     each foreachBatch microbatch.
  *
  * The memory-sink rows are collected before the sink's view is
  * dropped, so the returned frame never reads the staged files. */
private[graft] object OneShot {

  /** Name prefix of every staging dir; StreamingSpec asserts none is
    * left behind. */
  val Prefix = "graft_once_"

  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** A sink/query name unique in this JVM. */
  def name(kind: String): String = s"${kind}_${counter.incrementAndGet()}"

  /** The temp dirs of one one-shot. Used by one thread. */
  final class Scope private[OneShot] {
    private val dirs = collection.mutable.ArrayBuffer.empty[Path]

    /** A fresh temp dir, deleted when the one-shot ends. */
    def tempDir(tag: String): Path = {
      val d = Files.createTempDirectory(Prefix + tag)
      dirs += d
      d
    }

    /** Stage `src` into a fresh temp dir ([[stageFiles]]) and return
      * that dir, the path to read the stream from. */
    def stage(src: String, tag: String): String = {
      val d = tempDir(tag)
      stageFiles(Paths.get(src), d)
      d.toString
    }

    /** Delete every dir and forget its ts encoding. The delete is
      * advisory: a failure must not mask the query's own result. */
    private[OneShot] def close(): Unit = dirs.reverseIterator.foreach { d =>
      try BucketedTables.deleteRecursively(d)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      Tables.forgetTsEncoding(d.toString)
    }
  }

  /** Run `body` in a fresh [[Scope]], cleaning it up however it ends. */
  def apply[A](body: Scope => A): A = {
    val scope = new Scope
    try body(scope) finally scope.close()
  }

  /** Copy the data files of `src` (one file, or a directory tree of
    * part files) flat into the dir `into`, each copy's mtime pinned to
    * `mtimeMs` if given (the file source orders batches by mtime).
    * Flat, because the file source lists only the top level of an
    * unpartitioned dir; nested names are joined with `_`. Hidden
    * entries (`_SUCCESS`, `.crc`) are skipped, as every parquet reader
    * skips them. Returns the number of files staged. */
  def stageFiles(src: Path, into: Path, mtimeMs: Option[Long] = None): Int = {
    val files: Seq[(String, Path)] =
      if (!Files.isDirectory(src)) Seq(src.getFileName.toString -> src)
      else {
        val walk = Files.walk(src)
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => src.relativize(f).iterator().asScala.map(_.toString).toSeq -> f)
          .filterNot(_._1.exists(c => c.startsWith("_") || c.startsWith(".")))
          .map { case (parts, f) => parts.mkString("_") -> f }
          .toList
        finally walk.close()
      }
    files.foreach { case (n, f) =>
      val dst = into.resolve(n)
      Files.copy(f, dst)
      mtimeMs.foreach(ms => Files.setLastModifiedTime(dst, FileTime.fromMillis(ms)))
    }
    files.size
  }

  /** Sink dirs whose returned frames read them LAZILY (so they cannot
    * be deleted inside the one-shot) are reclaimed by one JVM shutdown
    * hook: the residue lives as long as the process, not the machine
    * (the caller may hold the frame until then). */
  private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = exitDirs.poll()
      while (p != null) {
        try BucketedTables.deleteRecursively(p)
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
        p = exitDirs.poll()
      }
    }, "graft-sink-dir-cleanup"))

  /** A fresh temp dir that outlives the one-shot, deleted at JVM exit. */
  def dirUntilExit(prefix: String): Path = {
    exitHook
    val d = Files.createTempDirectory(prefix)
    exitDirs.add(d)
    d
  }

  /** Start a query, let it take everything available, stop it. */
  def drain(start: => StreamingQuery): Unit = {
    val q = start
    try q.processAllAvailable() finally q.stop()
  }

  /** Drain `stream` into a memory sink and return its rows as a local
    * frame on the stream's session, dropping the view the sink
    * registered there. */
  def memorySink(stream: Dataset[_], mode: OutputMode, kind: String): DataFrame = {
    val spark = stream.sparkSession
    val n = name(kind)
    try {
      drain(stream.writeStream.outputMode(mode).format("memory").queryName(n).start())
      Substrates.local(spark.table(n)).head
    } finally spark.catalog.dropTempView(n)
  }

  /** Stage `src`, build the stream over the staged dir with `query`,
    * and return what it leaves in a memory sink ([[memorySink]]). */
  def memoryOnce(src: String, kind: String, mode: OutputMode)
                (query: String => Dataset[_]): DataFrame =
    apply(scope => memorySink(query(scope.stage(src, kind)), mode, kind))

  /** Drain a foreachBatch query built by `run`, which must hand each
    * microbatch's output to the sink it is given; returns every
    * batch's rows, in trigger order. */
  def batchRows(run: (DataFrame => Unit) => StreamingQuery): Seq[Array[Row]] = {
    val batches = collection.mutable.ArrayBuffer.empty[Array[Row]]
    drain(run { out =>
      val rows = out.collect()
      batches.synchronized { batches += rows }
    })
    batches.toSeq
  }
}
