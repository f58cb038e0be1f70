package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.etl.Tables

/** Structured Streaming twins of the batch event operators: windowed
  * aggregation with watermarking, session windows, and custom per-user
  * state via `mapGroupsWithState` / `flatMapGroupsWithState`.
  *
  * The batch queries in graft.ops.EventsOps define the semantics; these
  * run the same logic incrementally. Local tests drive them from the
  * events parquet; the driver-gate one-shots below run under
  * [[OneShot]].
  *
  * Scale: state is partitioned by group key across executors
  * (HDFS/RocksDB-backed state store in production); the watermark
  * bounds state size by evicting windows older than the allowed
  * lateness. Event-time (not arrival-time) semantics throughout.
  */
object EventsStream {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Per-user last-view state for the as-of twin (Long.MinValue = no
    * view seen yet). */
  case class AsofState(lastViewUs: Long)

  /** One as-of match: a purchase and the most recent strictly-prior
    * view by the same user (None = no prior view). Exact microsecond
    * instants; presentation formatting stays in the batch query. */
  case class PurchaseAsof(user_id: Long, event_id: Long,
                          purchaseUs: Long, lastViewUs: Option[Long])

  /** Exact microseconds from the Timestamp: getTime truncated to whole
    * seconds plus the sub-second nanos field. `getTime * 1000` would
    * drop the microsecond component and could classify an instant
    * within 1 ms of a boundary differently from the batch twins
    * (which use exact `ts_ns div 1000`). */
  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** A streaming source over the events parquet dir (one-file-per-batch
    * in tests). Unit-aware like `Tables.events`: a FileStreamSource
    * needs a DECLARED schema, so the `ts` encoding (timestamp[us] vs
    * TIMESTAMP(NANOS)-as-long — see Tables.eventsTsType) is sniffed
    * from the files already staged in `dir` at stream-definition time;
    * later-arriving files must use the same encoding. Requires
    * `spark.sql.legacy.parquet.nanosAsLong=true` in the session builder
    * for the NANOS encoding (see Tables.events scaladoc). */
  def readEventsStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val tsType = Tables.eventsTsType(spark, dir)
    val reader = spark.readStream.schema(Tables.eventsSchemaWith(tsType))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val raw = reader.parquet(dir)
    tsType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // native µs (possibly NTZ): keep the instant, derive ns
        raw.withColumn("ts_ns", Tables.tsToNanos(col("ts")))
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-hour windowed counts/sums per event type with a
    * 30-minute watermark (streaming twin of EventsOps.hourly). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("NEvents"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("TotalValue"))
      .select(col("window.start").as("WindowStart"), col("event_type"),
        col("NEvents"), col("TotalValue"))

  /** Per-user funnel state: the running min view instant plus the
    * PRUNED candidate click/purchase instants that could still matter.
    * `minView` is a commutative min, final under any arrival order.
    * Candidate lists are bounded by the funnel window itself once a
    * view exists: a click can only ever qualify if ≤ t1_final + W, and
    * t1 only decreases, so `minView + W` is a safe monotone prune
    * bound (likewise purchases at `minView + 2W`, since t2 ≤ t1 + W).
    * For users with NO view yet, candidates are held until either a
    * view arrives or the WATERMARK passes them (a late view older than
    * the watermark is dropped by the framework, so the final t1 is
    * ≥ min(minView, watermark) — candidates at or below that floor can
    * never qualify and are evicted). Run the stream with
    * `withWatermark` to get bounded state for view-less users;
    * without one, their candidate lists grow with their own
    * click/purchase history. */
  case class FunnelState(minView: Long, clicks: List[Long], purchases: List[Long])

  /** Current funnel progress for one user (t's in exact microseconds,
    * None = step not reached yet given events seen so far). */
  case class UserFunnel(user_id: Long, t1: Option[Long], t2: Option[Long],
                        t3: Option[Long])

  /** Streaming twin of EventsOps.funnel, per-user half: incremental
    * view→click→purchase progress via `mapGroupsWithState`, emitting
    * each user's current (t1, t2, t3) per trigger (Update mode — the
    * sink's last row per user is the user's final funnel state). The
    * batch query's three-row step/rate presentation is a driver-scale
    * fold over these per-user rows; StreamingSpec performs it and
    * asserts equality with the batch funnel.
    *
    * Semantics transcribe the batch definition exactly: t1 = min view
    * instant; t2 = min click in (t1, t1+W]; t3 = min purchase in
    * (t2, t2+W] — recomputed from the pruned candidates each trigger,
    * so late/out-of-order arrivals (an EARLIER view shifting the
    * window) still converge to the batch answer. */
  def funnelProgress(events: Dataset[Event])(implicit spark: SparkSession): Dataset[UserFunnel] = {
    import spark.implicits._
    val winUs = graft.ops.EventsOps.FunnelWindowHours * 3600L * 1000000L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Event], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(Long.MaxValue, Nil, Nil))
          evs.foreach { e =>
            val us = micros(e.ts)
            e.event_type match {
              case "view" => if (us < st.minView) st = st.copy(minView = us)
              case "click" => st = st.copy(clicks = us :: st.clicks)
              case "purchase" => st = st.copy(purchases = us :: st.purchases)
              case _ => ()
            }
          }
          val clickHi =
            if (st.minView == Long.MaxValue) Long.MaxValue
            else st.minView + winUs
          val purchaseHi =
            if (st.minView == Long.MaxValue) Long.MaxValue
            else st.minView + 2 * winUs
          // watermark floor: the framework drops views older than the
          // watermark, so final t1 ≥ min(minView, wm) — a candidate at
          // or below that floor needs us > t1_final and can never
          // qualify; evicting it bounds state for view-less users
          val wmUs =
            (try state.getCurrentWatermarkMs()
             catch { case _: UnsupportedOperationException => 0L }) * 1000L
          val t1Floor = if (wmUs > 0L) math.min(st.minView, wmUs) else Long.MinValue
          st = FunnelState(st.minView,
            st.clicks.filter(c => c <= clickHi && c > t1Floor).distinct.sorted,
            st.purchases.filter(p => p <= purchaseHi && p > t1Floor).distinct.sorted)
          state.update(st)
          val t1 = if (st.minView == Long.MaxValue) None else Some(st.minView)
          val t2 = t1.flatMap(t => st.clicks.find(c => c > t && c <= t + winUs))
          val t3 = t2.flatMap(t => st.purchases.find(p => p > t && p <= t + winUs))
          UserFunnel(userId, t1, t2, t3)
      }
  }

  /** Latest event per user, as running streaming state. */
  case class LatestEvent(user_id: Long, lastUs: Long, event_id: Long,
                         event_type: String, value: Double)

  /** Streaming twin of EventsOps.dedupLatest (latest-per-key dedup):
    * one (timestamp, event_id)-max record per user kept in
    * `mapGroupsWithState` — each trigger emits the current winner, so
    * the sink's last update per key equals the batch query on the
    * data seen so far. State is one small record per user; at scale
    * this is the classic streaming-upsert compaction
    * (Update mode → keyed sink). */
  def latestPerUser(events: Dataset[Event])(implicit spark: SparkSession): Dataset[LatestEvent] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Event], state: GroupState[LatestEvent]) =>
          val best = (state.getOption.iterator ++ evs.map(e =>
            LatestEvent(userId, micros(e.ts), e.event_id, e.event_type, e.value)))
            .maxBy(l => (l.lastUs, l.event_id))
          state.update(best)
          best
      }
  }

  /** Streaming twin of RelationalOps.purchaseAsofView: per-user
    * last-view state via `flatMapGroupsWithState` — each incoming
    * purchase emits its most recent STRICTLY PRIOR view (same
    * (microsecond, event_id) total order as the batch window's
    * `rowsBetween(unboundedPreceding, -1)`), each view just advances
    * the state. Emits zero-or-one row per input event, so Append mode;
    * state is one Long per user — watermark-free bounded state.
    *
    * Note on ordering: within one trigger the group iterator is sorted
    * here exactly as the batch window sorts; across triggers event
    * time must be non-decreasing per user (the standard as-of stream
    * contract — late views would need a watermark + buffer to claim
    * purchases already emitted). */
  def purchaseAsof(events: Dataset[Event])(implicit spark: SparkSession): Dataset[PurchaseAsof] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Event], state: GroupState[AsofState]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var lastView = state.getOption.map(_.lastViewUs).getOrElse(Long.MinValue)
          val out = Seq.newBuilder[PurchaseAsof]
          sorted.foreach { e =>
            val us = micros(e.ts)
            if (e.event_type == "purchase")
              out += PurchaseAsof(userId, e.event_id, us,
                if (lastView == Long.MinValue) None else Some(lastView))
            if (e.event_type == "view") lastView = us
          }
          state.update(AsofState(lastView))
          out.result().iterator
      }
  }

  /** Per-user last-event state for [[transitionPairs]]. */
  case class LastEventState(lastUs: Long, eventType: String)

  /** One within-session event-type transition (the batch bigram). */
  case class TransitionPair(from: String, to: String)

  /** Streaming twin of the bigram derivation inside
    * [[graft.ops.EventsOps.transitionMatrix]]: per-user LAST-EVENT
    * state via `flatMapGroupsWithState` — each incoming event whose
    * gap to the user's previous event is within the 30-minute session
    * gap emits its (from, to) transition; a gap past it just replaces
    * the state (session break, exactly the batch `s2 = sess` rule).
    * Append mode, one (Long, enum) of state per user — watermark-free
    * bounded state, the [[latestPerUser]] discipline. The matrix
    * presentation (counts, row totals, probabilities) is a batch
    * aggregate over the emitted transition stream — counts are
    * additive, so any incremental sink rollup converges to the batch
    * matrix. Same per-trigger sort + cross-trigger event-time
    * ordering contract as [[purchaseAsof]]. */
  def transitionPairs(events: Dataset[Event])(implicit spark: SparkSession): Dataset[TransitionPair] = {
    import spark.implicits._
    val gapUs = 1800L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, evs: Iterator[Event], state: GroupState[LastEventState]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[TransitionPair]
          sorted.foreach { e =>
            val us = micros(e.ts)
            last.foreach { l =>
              if (us - l.lastUs <= gapUs) out += TransitionPair(l.eventType, e.event_type)
            }
            last = Some(LastEventState(us, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming twin of [[graft.ops.EventsOps.sessionWindows]] via the
    * SAME native `session_window` grouping — the declarative
    * sessionization that the lag-window batch formulation cannot
    * express as a stream. Append mode emits each session once its
    * window end drops below the watermark; sessions merge across
    * microbatches until then (state = in-flight sessions only, the
    * watermark evicts finalized ones). A session is only ever emitted
    * FINAL — no partial rows to reconcile downstream. */
  def sessionValueCounts(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("NEvents"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("ValueSum"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("StartUs"),
        unix_micros(col("session_window.end")).as("EndUs"),
        col("NEvents"), col("ValueSum"))

  /** TRUE stream-stream interval join — the streaming twin of
    * [[graft.ops.EventsOps.clickAttribution]]: the view and click
    * streams (two event-time-watermarked filters over the source)
    * inner-join on user_id with the click constrained to the
    * attribution window after the view. The event-time RANGE
    * condition plus the two watermarks is what lets Spark compute a
    * state-eviction bound for BOTH sides (a view older than
    * watermark − window can never match a future click and is
    * dropped from the join state) — without them inner-join state
    * grows with stream history. Append mode: each pair is emitted
    * exactly once, when its second side arrives.
    *
    * `delay` is the lateness tolerance: rows arriving more than
    * `delay` behind the stream's max event time MAY be dropped
    * (standard watermark semantics), so a replay that shuffles event
    * order needs `delay` ≥ the reordering span for exact batch
    * parity — the spec replays with a corpus-spanning delay; a
    * production deployment picks the real lateness bound. Emits
    * pair-level (user_id, VUs, CUs, LagUs) in exact microseconds;
    * aggregation to per-user stats stays in the consumer (the batch
    * twin's groupBy re-aggregates pairs associatively). */
  def clickAttribution(events: DataFrame, delay: String): DataFrame = {
    val winH = graft.ops.EventsOps.FunnelWindowHours
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", delay)
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("cuid"), col("ts").as("cts"))
      .withWatermark("cts", delay)
    v.join(c,
        col("user_id") === col("cuid") &&
          col("cts") > col("vts") &&
          col("cts") <= col("vts") + expr(s"interval $winH hours"))
      .select(col("user_id"),
        unix_micros(col("vts")).as("VUs"),
        unix_micros(col("cts")).as("CUs"),
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("LagUs"))
  }

  /** Run the hourly aggregation over the parquet events in `dir` as a
    * stream into a memory sink; returns the completed result table.
    * Used by tests and as a library entry point for local
    * verification. */
  def runHourlyOnce(spark: SparkSession, dir: String,
                    queryName: String = "events_hourly_stream"): DataFrame =
    OneShot.memorySink(hourlyCounts(readEventsStream(spark, dir)),
      OutputMode.Update(), queryName)

  // ---- driver-gate one-shot twins ------------------------------------
  // These run the REAL streaming operators (file source → watermark →
  // sink) over the same parquet the batch queries read, shaped to
  // hash-match the BATCH oracle SQL — so the driver's correctness gate
  // exercises the streaming engine, not just the specs. Staging, sink
  // names, draining, read-back and cleanup are [[OneShot]]'s; each twin
  // here is its kernel and its presentation.

  /** Rows of in-flight state one store partition is sized to carry.
    * Above this, per-partition snapshot/commit and lookup costs
    * dominate; below it, extra stores are pure per-microbatch
    * overhead. The round-9 10M-event decade measured the failure mode
    * this constant exists for: ~9.5M in-flight sessions funneled
    * through a fixed 4 stores spent 62 s mostly inside state
    * maintenance. */
  val StateRowsPerStore = 250000L

  /** Session CLONE with STATE-SIZED shuffle parallelism for the
    * one-shot runs. Stateful streaming allocates one state store per
    * shuffle partition per stateful operator, and the store count is
    * fixed at first checkpoint — so a real deployment sizes it to
    * projected STATE, not scan width. This applies that rule as code
    * (the componentsOf partition-clamp pattern): partitions =
    * clamp(ceil(projectedStateRows / [[StateRowsPerStore]]), 4,
    * defaultParallelism). The gate queries carry ~10⁴-row state and
    * get the old 4 (hashes untouched); a 10M-event decade run gets
    * the full core count instead of 4 store bottlenecks. A clone owns
    * its SQLConf — the shared session's conf is never mutated (Verify
    * runs queries concurrently), and the SparkContext (and so the
    * executors and the memory-sink registry the clone's catalog sees)
    * is shared. */
  private def stateSizedSession(spark: SparkSession,
                                projectedStateRows: Long = 0L): SparkSession = {
    val s = spark.newSession()
    val byState = (projectedStateRows + StateRowsPerStore - 1) / StateRowsPerStore
    val parts = math.min(
      math.max(4L, byState),
      math.max(4L, spark.sparkContext.defaultParallelism.toLong))
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s
  }

  /** The typed event stream the `GroupState` kernels take. */
  private def typedEvents(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    readEventsStream(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event]
  }

  /** Streaming twin of `EventsOps.hourly` for the driver gate: stages
    * the events parquet as a one-batch file stream, runs the
    * watermarked windowed aggregation, and presents the sink exactly
    * like the batch query (HourTs string, same column names + order).
    * One data batch ⇒ Update mode emits each window exactly once. */
  def hourlyStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = stateSizedSession(spark)
    OneShot(once => runHourlyOnce(s,
        once.stage(s"$dir/events.parquet", "events_hourly_stream")))
      .select(
        date_format(col("WindowStart"), "yyyy-MM-dd HH:mm:ss").as("HourTs"),
        col("event_type"), col("NEvents"), col("TotalValue"))
      .orderBy(col("HourTs"), col("event_type"))
  }

  /** Streaming twin of `EventsOps.sessionWindows` for the driver gate:
    * the native `session_window` aggregation in APPEND mode, so every
    * emitted session is watermark-FINAL. Staging order makes that
    * exact: the real events land first (earlier mtime), then a single
    * far-future sentinel event for a dummy user pushes the watermark
    * past every real session's end — the no-data microbatch after it
    * flushes ALL real sessions; the sentinel's own in-flight session
    * is filtered out. Same construction StreamingSpec proves equal to
    * the batch twin. */
  def sessionWindowsStreamQuery(spark0: SparkSession, dir: String): DataFrame = {
    // one pre-pass serves double duty: the flush-sentinel timestamp AND
    // the projected-state estimate (in-flight sessions ≈ events on a
    // sparse corpus) that sizes the clone's state-store parallelism
    val statRow = Tables.eventsRaw(spark0, dir)
      .agg(max(col("ts")), count(lit(1))).head()
    require(!statRow.isNullAt(0),
      s"events fixture at $dir is empty — cannot stage the session-window flush sentinel")
    val maxNs = statRow.getLong(0)
    val nEvents = statRow.getLong(1)
    val spark = stateSizedSession(spark0, projectedStateRows = nEvents)
    OneShot { once =>
      val streamDir = once.tempDir("events_session_windows_stream")
      val t0 = System.currentTimeMillis() - 60000
      // stage the corpus by FILE COPY (no Spark rewrite — the encoding
      // sniff makes the original physical encoding readable as-is); only
      // the 1-row sentinel is written, in the SAME encoding so the
      // stream's declared schema fits every file
      val nData = OneShot.stageFiles(
        java.nio.file.Paths.get(s"$dir/events.parquet"), streamDir, Some(t0))
      val flushNs = maxNs + 30L * 86400L * 1000000000L
      val sentinelTs = Tables.eventsTsType(spark, s"$dir/events.parquet") match {
        case org.apache.spark.sql.types.LongType => lit(flushNs)
        case t => timestamp_micros(lit(flushNs / 1000L)).cast(t)
      }
      val flush = once.tempDir("events_session_windows_flush")
      Tables.eventsRaw(spark, dir).limit(1).select(
        lit(-1L).as("event_id"),
        sentinelTs.as("ts"),
        lit(-1L).as("user_id"),
        lit("view").as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(flush.toString)
      OneShot.stageFiles(flush, streamDir, Some(t0 + 10000))
      // FILE sink, not memory: sessions ≈ events on this corpus, so a
      // memory sink would collect a corpus-linear result into the
      // driver (measured ~9.5M rows/run at the 10M-event decade — the
      // one-shot pattern's only non-distributed stage). The parquet
      // sink keeps emission distributed.
      // The SINK dir outlives the one-shot: the returned frame reads it
      // lazily (a cache-pinned copy instead would accumulate a
      // corpus-linear cached relation per invocation in storage
      // memory, with no unpersist seam once the frame is returned —
      // parquet on tmp disk is the cheaper place for that residue).
      // It is deleted at JVM exit, so the residue lives at most as
      // long as the process, not the machine.
      val sinkDir = OneShot.dirUntilExit("graft_sess_sink")
      val ckDir = once.tempDir("events_session_windows_ck")
      // every data file in the first trigger, the sentinel alone in the
      // next: the watermark it sets then flushes every real session
      OneShot.drain(sessionValueCounts(
          readEventsStream(spark, streamDir.toString, maxFilesPerTrigger = Some(nData)),
          delay = "1 second")
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckDir.toString)
        .queryName(OneShot.name("events_session_windows_stream"))
        .start(sinkDir.toString))
      spark.read.parquet(sinkDir.toString)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("StartUs"))
    }
  }

  /** Streaming twin of `EventsOps.clickAttribution` for the driver
    * gate: the TRUE stream-stream interval join (both sides streaming
    * through the symmetric-hash join with watermarked state), then the
    * same per-user pair aggregation as the batch query. Staged as ONE
    * file-copied batch — each additional microbatch is a full
    * state-store round-trip over both sides, and the cross-batch
    * emission property is separately proven by StreamingSpec's
    * two-file replay; the gate query's job is batch/stream value
    * equivalence. The corpus-spanning `delay` makes the replay
    * lossless; a production deployment sets the real lateness bound
    * and gets bounded join state from the range condition +
    * watermarks. */
  def clickAttributionStreamQuery(spark0: SparkSession, dir: String): DataFrame = {
    // the corpus-spanning delay buffers BOTH join sides, so projected
    // state ≈ the event count — size the store parallelism to it
    val nEvents = Tables.eventsRaw(spark0, dir).count()
    val spark = stateSizedSession(spark0, projectedStateRows = nEvents)
    OneShot.memoryOnce(s"$dir/events.parquet", "events_click_attribution_stream",
        OutputMode.Append())(
      d => clickAttribution(readEventsStream(spark, d), delay = "3650 days"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("Pairs"),
        min(col("LagUs")).as("MinLagUs"),
        max(col("LagUs")).as("MaxLagUs"),
        sum(col("LagUs")).as("SumLagUs"))
      .orderBy(col("user_id"))
  }

  /** Streaming twin of `EventsOps.dedupLatest` for the driver gate —
    * the stateful-upsert compaction ([[latestPerUser]]'s
    * `mapGroupsWithState`, one small record per key) run as a real
    * one-shot stream and shaped to hash-match the batch oracle. One
    * data batch ⇒ Update mode emits each user's winner exactly once,
    * so the sink IS the batch latest-per-key table. This puts the
    * third stateful-operator family (arbitrary `GroupState`, next to
    * the windowed-agg and stream-stream-join twins) inside the
    * driver's correctness gate. */
  def dedupLatestStreamQuery(spark0: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = stateSizedSession(spark0)
    OneShot.memoryOnce(s"$dir/events.parquet", "events_dedup_latest_stream",
        OutputMode.Update())(
      d => latestPerUser(typedEvents(spark, d)))
      .select(col("user_id"),
        date_format(timestamp_micros(col("lastUs")), "yyyy-MM-dd HH:mm:ss")
          .as("LastTs"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** One-shot of [[transitionPairs]] for the driver gate, shaped to
    * hash-match the batch `events_transition_matrix` oracle: run the
    * stateful stream over the staged corpus, then apply the batch
    * matrix presentation (pair counts, From-row totals, one exact
    * division) to the emitted transition stream. */
  def transitionMatrixStreamQuery(spark0: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = stateSizedSession(spark0)
    OneShot.memoryOnce(s"$dir/events.parquet", "events_transition_matrix_stream",
        OutputMode.Append())(
      d => transitionPairs(typedEvents(spark, d)))
      .select(col("from").as("From"), col("to").as("To"))
      .groupBy(col("From"), col("To"))
      .agg(count(lit(1)).as("NTransitions"))
      .withColumn("FromTotal", sum(col("NTransitions")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("From"))))
      .withColumn("Prob",
        col("NTransitions").cast(DoubleType) / col("FromTotal"))
      .select(col("From"), col("To"), col("NTransitions"),
        col("FromTotal"), col("Prob"))
      .orderBy(col("From"), col("To"))
  }

  /** Streaming twin of `RelationalOps.purchaseAsofView` for the driver
    * gate — [[purchaseAsof]]'s `flatMapGroupsWithState` (Append mode:
    * zero-or-one row per input event, per-user last-view state) run as
    * a one-shot and shaped to hash-match the batch oracle. Completes
    * the stateful-operator coverage in the gate: windowed agg,
    * session_window, stream-stream join, mapGroupsWithState upsert,
    * and now Append-mode flatMapGroupsWithState. */
  def asofViewStreamQuery(spark0: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = stateSizedSession(spark0)
    OneShot.memoryOnce(s"$dir/events.parquet", "events_asof_view_stream",
        OutputMode.Append())(
      d => purchaseAsof(typedEvents(spark, d)))
      .select(col("user_id"), col("event_id"),
        date_format(timestamp_micros(col("purchaseUs")), "yyyy-MM-dd HH:mm:ss")
          .as("PurchaseTs"),
        date_format(timestamp_micros(col("lastViewUs")), "yyyy-MM-dd HH:mm:ss")
          .as("LastViewTs"),
        (col("purchaseUs") - col("lastViewUs")).as("GapMicros"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Streaming twin of `EventsOps.funnel` for the driver gate: the
    * per-user view→click→purchase progress runs as REAL
    * `mapGroupsWithState` (each user's final (t1, t2, t3) lands in the
    * Update-mode sink), then the same three step rows + rates as the
    * batch query are folded from the emitted states — `Users` per step
    * is the non-null count of that step's instant, the rate window the
    * identical nullif-guarded formula. One staged batch ⇒ exactly one
    * emission per user; cross-batch state carry is StreamingSpec's
    * two-file funnel test. */
  def funnelStreamQuery(spark0: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = stateSizedSession(spark0)
    val st = OneShot.memoryOnce(s"$dir/events.parquet", "events_funnel_stream",
        OutputMode.Update())(
      d => funnelProgress(typedEvents(spark, d)))
    def step(n: Int, nm: String, instant: org.apache.spark.sql.Column): DataFrame =
      st.agg(count(instant).as("Users"))
        .select(lit(n).as("Step"), lit(nm).as("StepName"), col("Users"))
    val steps = step(1, "view", col("t1"))
      .union(step(2, "view>click", col("t2")))
      .union(step(3, "view>click>purchase", col("t3")))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("Step"))
    steps
      .withColumn("CumRate",
        col("Users").cast(DoubleType) / nullif(first(col("Users")).over(w), lit(0L)))
      .withColumn("StepRate",
        col("Users").cast(DoubleType) / nullif(lag(col("Users"), 1).over(w), lit(0L)))
      .orderBy(col("Step"))
  }
}
