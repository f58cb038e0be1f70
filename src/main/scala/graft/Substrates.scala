package graft

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The registry of per-session substrates: every cached frame, corpus
  * count, trained model and persisted index that one query builds and
  * later queries of the same session reuse. The reference keeps this
  * shared state in three fields rebuilt by one `run()` (ref:
  * etl.py:31-54, 390-413); the engine shares far more of it, so it
  * keeps it in one place with one bookkeeping rule.
  *
  * An entry is keyed by (session, input dir, kind, params) and stored
  * with the action that releases it: `unpersist(false)` for a cached
  * frame, a table drop or a directory delete for a persisted index.
  * [[invalidate]] releases every entry one session built from one dir,
  * newest first, so derived frames go before their inputs. It is the
  * one call an append to, or a rewrite of, an input dir requires.
  *
  * == Locking ==
  * A hit takes no lock. A first touch builds under that key's own lock
  * and checks again inside it, so concurrent first touches build once,
  * and builds of different keys do not serialize each other. A build
  * may touch the keys it derives from, so key locks nest in dependency
  * order. A release holds one key lock at a time and waits for an
  * in-flight build of the key it drops. A persisted index
  * (`graft.ops.BucketedTables.resolve`) takes the one index lock
  * inside its key lock, in build and in release; code that holds the
  * index lock therefore touches only keys whose build takes no index
  * lock.
  *
  * Entries of a stopped session are dropped, without running their
  * release, on the next lookup.
  *
  * == Local relations ==
  * An intermediate bounded by a constant or by the calendar (method
  * lists, a country × day aggregate, a one-row report) is not
  * registered: [[local]] collects it to the driver and returns a local
  * relation. That holds no block, so it needs no release, and it gives
  * the planner the exact size for its broadcast choice. A registry
  * entry and a local relation are the two ways the engine holds a
  * materialized intermediate across the plans of one query or session.
  */
object Substrates {

  private[graft] final case class Key(spark: SparkSession, dir: String,
                                      kind: String, params: Seq[Any])

  private final case class Entry(value: Any, release: () => Unit, seq: Long)

  /** One key's build lock and, once built, its entry. */
  private final class Slot {
    @volatile var entry: Option[Entry] = None
  }

  private val slots = TrieMap.empty[Key, Slot]
  private val builds = new AtomicLong

  /** The value registered under the key, built by `build` on first
    * touch and released by `release` on invalidation. */
  def apply[V](spark: SparkSession, dir: String, kind: String, params: Any*)(
      release: V => Unit)(build: => V): V = {
    slots.keysIterator.filter(_.spark.sparkContext.isStopped).foreach(slots.remove)
    val slot = slots.getOrElseUpdate(Key(spark, dir, kind, params), new Slot)
    slot.entry.getOrElse(slot.synchronized {
      slot.entry.getOrElse {
        val v = build
        val e = Entry(v, () => release(v), builds.incrementAndGet())
        slot.entry = Some(e)
        e
      }
    }).value.asInstanceOf[V]
  }

  /** A cached frame: released by `unpersist(false)`. */
  def frame(spark: SparkSession, dir: String, kind: String, params: Any*)(
      build: => DataFrame): DataFrame =
    apply[DataFrame](spark, dir, kind, params: _*)(_.unpersist(false))(build)

  /** Each frame collected to the driver and returned as a local
    * relation on its own session. Use only for frames bounded by a
    * constant or by the calendar. Several frames are collected as
    * concurrent jobs from driver threads, which Spark's FIFO scheduler
    * interleaves, so a wave of small AQE jobs costs its slowest frame
    * rather than the sum of their dispatch latencies.
    *
    * Each collect carries the caller's call site, not this file's
    * (`collect at RetrievalOps.scala:150`, with `(frame 2 of 3)` for a
    * wave), so a job profile tells the callers and the frames of one
    * wave apart. It is taken on the calling thread and set on the
    * thread that collects. */
  def local(dfs: DataFrame*): Seq[DataFrame] = {
    val caller = Thread.currentThread.getStackTrace.toSeq
      .dropWhile(f => !inThisObject(f)).dropWhile(inThisObject)
    val at = caller.headOption.fold("local")(f => s"collect at ${f.getFileName}:${f.getLineNumber}")
    def collected(df: DataFrame, short: String): DataFrame = {
      val sc = df.sparkSession.sparkContext
      // the long form as deep as Spark's own default (spark.callstack.depth)
      val site = Seq(CallSiteShort -> short, CallSiteLong -> caller.take(20).mkString("\n"))
      val before = site.map { case (k, _) => k -> sc.getLocalProperty(k) }
      site.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try local(df.sparkSession, df.collect().toSeq, df.schema)
      finally before.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    val work = dfs.zipWithIndex.map { case (df, i) =>
      () => collected(df, if (dfs.size <= 1) at else s"$at (frame ${i + 1} of ${dfs.size})")
    }
    if (work.size <= 1) return work.map(_())
    val pool = Executors.newFixedThreadPool(work.size)
    try work.map(w => pool.submit(new Callable[DataFrame] { def call(): DataFrame = w() }))
      .map(_.get())
    finally pool.shutdown()
  }

  /** The local properties Spark reads a job's call site from
    * (`SparkContext.getCallSite`), short and long form. */
  private val CallSiteShort = "callSite.short"
  private val CallSiteLong = "callSite.long"

  private def inThisObject(f: StackTraceElement): Boolean =
    f.getClassName == "graft.Substrates" || f.getClassName.startsWith("graft.Substrates$")

  /** Rows already on the driver as a local relation: the one place the
    * engine builds one. */
  private[graft] def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Release every entry `spark` built from `dir`. Safe mid-flight:
    * plans already built over a released frame recompute from its
    * lineage. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    release(k => (k.spark eq spark) && k.dir == dir)

  /** Release the entries `which` selects, of any live session —
    * newest first, one key lock at a time. */
  private[graft] def release(which: Key => Boolean): Unit =
    slots.toSeq.filter { case (k, _) => !k.spark.sparkContext.isStopped && which(k) }
      // an empty slot may hold an in-flight build: newest of all
      .sortBy { case (_, s) => s.entry.fold(Long.MinValue)(-_.seq) }
      .foreach { case (_, slot) =>
        slot.synchronized {
          slot.entry.foreach { e => slot.entry = None; e.release() }
        }
      }

  /** Keys that hold a value now (the registry's footprint). */
  private[graft] def keys: Seq[Key] =
    slots.iterator.collect { case (k, s) if s.entry.isDefined => k }.toSeq
}
