package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is materialized with a `noop`-format write, NOT `count()`:
  * under `count()` Catalyst legally deletes most of the work — column
  * pruning drops unreferenced projections, `EliminateSorts` drops the
  * presentation sort, window columns nothing filters on vanish — so a
  * project-only query times as a scan count. The noop sink consumes
  * every row of the final schema with zero I/O, which forces the full
  * plan (all expressions, windows, sorts' shuffles) to execute exactly
  * as a real sink would, minus serialization to disk.
  *
  * Warm-up is pass 1 itself, not a separate discarded pass (round 5):
  * JVM/JIT and Janino codegen compilation and the shared cleaned-table
  * cache build all land in the first interleaved pass, whose elevated
  * samples the min-of-N estimator already ignores — JIT cost only ever
  * INFLATES a sample, and min discards inflated samples by
  * construction. The old dedicated warm-up pass re-executed all 47
  * queries once more for nothing: round 4 spent 1,607 s wall for 35 s
  * of measured work, every extra execution another window for a host
  * stall to land in. Wall time is now passes × suite, the minimum that
  * still yields a steady-state min.
  *
  * A query that throws is reported as an entry in "errors" (and its
  * timing is excluded from "total") instead of being silently recorded
  * as a fast success.
  *
  * Each query is timed TWICE and the MINIMUM is reported: this host
  * (a VM) exhibits random multi-second to multi-minute whole-VM stalls
  * — identical noop runs of the same plan measured 3 s and 202 s
  * back-to-back with zero GC pauses over 95 ms and no memory pressure
  * (see PERFORMANCE.md "Host stall noise"). The min of two passes is
  * the standard stall-robust estimator of the plan's true cost;
  * per-run noise belongs to the host, not the engine.
  *
  * The two samples are INTERLEAVED (full pass 1 over all queries, then
  * full pass 2) rather than back-to-back: round 2 recorded 15.8 s /
  * 9.4 s minimums for two queries ADJACENT in run order whose
  * steady-state cost is 1.4 s / 0.5 s (repeated runs, PERFORMANCE.md
  * round 3; reproduce with `JobProfileProbe <dir> <q> N`) — a
  * sustained stall window can cover both
  * back-to-back runs of one query, but not the same query in two
  * passes separated by the whole suite. All raw samples are reported
  * in "raw" so stall frequency stays visible across rounds; a query
  * counts as errored only if ALL runs fail (a transient first-run
  * failure with a clean later run yields the valid timing).
  *
  * Round 4: THREE interleaved passes (min-of-3; SPARK_GRAFT_BENCH_PASSES
  * overrides, validated ≥ 1 — 0 passes would report every query as a
  * 0.0 s success), and each raw sample is `[sec, start_epoch_ms, gc_ms]`
  * — the wall-clock start timestamp makes a host stall directly visible
  * as a gap between consecutive samples (rather than inferred from an
  * outlier), and gc_ms (JVM-wide collector time attributable to the
  * sample's interval) separates "GC pause" from "the VM froze" without
  * re-running under a profiler.
  *
  * Round 5: the full JSON line is ALSO written to `BENCH_LOCAL.json`
  * (`SPARK_GRAFT_BENCH_OUT` overrides) — the driver persists only a
  * ~4 KB stdout tail, which in round 4 truncated 31 of 47 per-query
  * numbers out of the record; the committed file is the durable copy.
  *
  * Round 10: pass-position bias removed. The round-9 driver artifact
  * showed the FIRST query of every alphabetical pass absorbing the
  * pass's session-warmup + coldest host window (agg_incremental_daily:
  * 18.8/15.7/8.4 s raw vs 3.5 s quiet-session at the same HEAD — its
  * start_ms equaled each pass's start_ms). Two fixes compose: (a) each
  * pass starts with one small UNTIMED warmup job (parquet scan +
  * shuffle + noop sink) that soaks up scheduler/codegen/session-cold
  * cost, and (b) each pass ROTATES its execution order by len/passes,
  * so a query's min-of-N samples come from different pass positions —
  * no single query's committed record carries the pass-head tax in
  * every sample.
  */
object Bench {

  /** Force full-plan execution: every column of every row reaches the
    * sink, so Catalyst cannot prune work the way it can under count(). */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the native functions come with the session (GraftExtensions):
    // no registration inside the timed loop
    val spark = GraftSession.local()
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(passes >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $passes")
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    /** One sample: (seconds, start epoch ms, GC ms during the sample, err). */
    def timed(fn: (SparkSession, String) => DataFrame): (Double, Long, Long, Option[String]) = {
      val startMs = System.currentTimeMillis()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val err = try { materialize(fn(spark, sfDir)); None } catch {
        case t: Throwable => Some(t.getClass.getSimpleName)
      }
      ((System.nanoTime() - t0) / 1e9, startMs, gcMillis() - gc0, err)
    }
    // host-load sample: the 1/5/15-min loadavg plus running/total task
    // counts — read per pass so a pass-wide HOST stall (round-8 driver
    // artifact: one ~10-min window inflating 69 alphabetically-adjacent
    // queries) is attributable from the artifact alone, instead of
    // reconstructed from per-sample timestamp gaps
    def loadavg(): String =
      try "\"" + java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).trim + "\""
      catch { case _: Throwable => "null" }
    // pass-head warmup: one small real job (parquet scan → shuffle →
    // noop sink) per pass, UNTIMED — absorbs scheduler spin-up, codegen
    // compilation, and the pass's coldest host window so the first
    // rotated query doesn't
    def warmup(): Unit =
      try materialize(spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey").count())
      catch { case _: Throwable => () }
    // interleaved: full pass 1 over all queries, then pass 2, then pass
    // 3 — each pass rotated by len/passes so every query samples
    // different pass positions
    val passMeta = collection.mutable.ArrayBuffer.empty[String]
    val samples: Seq[Map[String, (Double, Long, Long, Option[String])]] =
      (1 to passes).map { p =>
        val off = (((p - 1).toLong * qs.length) / passes).toInt
        val order = qs.drop(off) ++ qs.take(off)
        val load0 = loadavg()
        val start = System.currentTimeMillis()
        val t0 = System.nanoTime()
        warmup()
        val out = order.map { case (name, fn) => (name, timed(fn)) }.toMap
        val wall = (System.nanoTime() - t0) / 1e9
        passMeta += s"""{"pass":$p,"wall_sec":$wall,"start_ms":$start,"rot":$off,"loadavg_start":${load0},"loadavg_end":${loadavg()}}"""
        out
      }
    val results = qs.map(_._1).map { name =>
      val runs = samples.map(_(name))
      val good = runs.collect { case (s, _, _, None) => s }
      val err = if (good.isEmpty) runs.flatMap(_._4).headOption else None
      (name, if (good.isEmpty) 0.0 else good.min, runs, err)
    }
    val ok = results.collect { case (k, v, _, None) => (k, v) }
    val qjson = ok.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rjson = results.map { case (k, _, runs, _) =>
      "\"" + k + "\":" + runs.map { case (s, ms, gc, _) => s"[$s,$ms,$gc]" }
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) => (k, e) }
    val ejson = errs.map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // end-of-run cached-substrate audit (round 8): every long-lived
    // memo is Dataset.cache() = MEMORY_AND_DISK, so eviction spills to
    // local disk instead of forcing recompute — this line makes the
    // session-wide footprint (and any spill) visible per round instead
    // of inferred from per-query regressions. disk_bytes > 0 means the
    // session ran past its storage memory and degraded as designed.
    val rddInfo = spark.sparkContext.getRDDStorageInfo
    val maxHeap = Runtime.getRuntime.maxMemory()
    val sjson = s"""{"cached_rdds":${rddInfo.length},"mem_bytes":${rddInfo.map(_.memSize).sum},"disk_bytes":${rddInfo.map(_.diskSize).sum},"max_heap_bytes":$maxHeap}"""
    val pjson = passMeta.mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,"raw":$rjson,"errors":$ejson,"storage":$sjson,"passes":$pjson,"sf":"$sfDir"}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case t: Throwable =>
      System.err.println(s"could not persist bench JSON to $outPath: $t") }
    // Round 17 (r16 verdict task #4): the driver persists only a ~2 KB
    // stdout TAIL, which truncates the full record's HEAD — its parse
    // came back null every round. This COMPACT summary is printed as
    // the FINAL line so the tail always carries a parseable record:
    // suite total, query/error counts, per-pass walls + loadavgs, and
    // the top-25 slowest per-query mins (all 165 don't fit 2 KB; the
    // full map is in the line above and in BENCH_LOCAL.json).
    val top = ok.sortBy(-_._2).take(25)
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val passCompact = passMeta.map(_.replaceAll("\\s+", " ")).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},"n_errors":${errs.size},"sf":"$sfDir","passes":$passCompact,"top25":$top}""")
    spark.stop()
  }
}
