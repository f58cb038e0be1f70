package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.EventsOps
import graft.streaming.EventsStream

/** Structured Streaming twins must agree with their batch siblings. */
class StreamingSpec extends SparkSpec {

  /** Write `df` as ONE parquet part file at `dst` — FileStreamSource
    * staging shared by the restart/sentinel tests; `mtimeMs` pins the
    * file's modification time (the source orders batches by it). */
  private def stagePart(df: org.apache.spark.sql.DataFrame,
                        dst: java.nio.file.Path,
                        mtimeMs: Option[Long] = None): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val tmp = tempDir("graft_stage_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    try Files.copy(listing.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get, dst)
    finally listing.close()
    mtimeMs.foreach(ms => Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(ms)))
  }

  test("streaming hourly agg over events parquet matches batch totals") {
    // FileStreamSource needs a directory: stage the events file into one
    val streamDir = tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val streamed = EventsStream.runHourlyOnce(spark, streamDir.toString)
    val batch = EventsOps.hourly(spark, sfDir)
    assert(streamed.agg(sum("NEvents")).head().getLong(0) === 1000L)
    assert(streamed.count() === batch.count())
    // spot-compare a few (window start, type) cells
    val sMap = streamed.collect()
      .map(r => (r.getAs[java.sql.Timestamp]("WindowStart").toString, r.getAs[String]("event_type")) -> r.getAs[Long]("NEvents")).toMap
    val bMap = batch.collect()
      .map(r => (r.getAs[String]("HourTs") + ".0", r.getAs[String]("event_type")) -> r.getAs[Long]("NEvents")).toMap
    assert(sMap === bMap)
  }

  test("append mode emits only watermark-finalized windows, matching batch values") {
    import org.apache.spark.sql.streaming.OutputMode
    val streamDir = tempDir("graft_stream_append")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val q = EventsStream.hourlyCounts(EventsStream.readEventsStream(spark, streamDir.toString))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("events_hourly_append")
      .start()
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("events_hourly_append").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("WindowStart").toString,
        r.getAs[String]("event_type")) -> r.getAs[Long]("NEvents")).toMap
    val batch = graft.ops.EventsOps.hourly(spark, sfDir).collect()
      .map(r => (r.getAs[String]("HourTs") + ".0", r.getAs[String]("event_type")) ->
        r.getAs[Long]("NEvents")).toMap
    // only FINALIZED windows (older than the 30-min watermark) may be
    // emitted in Append mode — so a strict, value-identical subset:
    // the tail of the stream is withheld as live state
    assert(emitted.nonEmpty, "append emitted nothing — watermark never advanced")
    assert(emitted.size < batch.size,
      "append emitted every window — nothing was withheld as live state")
    emitted.foreach { case (k, n) =>
      assert(batch.get(k).contains(n), s"window $k: append=$n batch=${batch.get(k)}")
    }
  }

  test("flatMapGroupsWithState as-of view matches batch events_asof_view") {
    import spark.implicits._
    implicit val s = spark
    val events = graft.etl.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
    val streamed = EventsStream.purchaseAsof(events).collect()
      .map(p => (p.user_id, p.event_id) -> ((p.purchaseUs, p.lastViewUs))).toMap
    val batch = graft.ops.RelationalOps.purchaseAsofView(spark, sfDir).collect()
      .map { r =>
        val gap = if (r.isNullAt(r.fieldIndex("GapMicros"))) None
                  else Some(r.getAs[Long]("GapMicros"))
        (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
          ((r.getAs[String]("PurchaseTs"), gap))
      }.toMap
    assert(streamed.keySet === batch.keySet)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    streamed.foreach { case (k, (purchaseUs, lastViewUs)) =>
      val (expTs, expGap) = batch(k)
      assert(fmt.format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(purchaseUs, 1000000L))) === expTs, s"ts mismatch at $k")
      assert(lastViewUs.map(purchaseUs - _) === expGap, s"gap mismatch at $k")
    }
  }

  test("streaming upsert into a JDBC warehouse via foreachBatch equals batch dedup") {
    import org.apache.spark.sql.functions._
    implicit val s = spark
    import spark.implicits._
    // stream events → running latest-per-user state → per-microbatch
    // JDBC overwrite through the SAME writeJdbc path as the batch
    // sinks: the standard streaming-compaction-to-warehouse topology
    // (at scale: MERGE/upsert per batch instead of overwrite).
    val streamDir = tempDir("graft_stream_jdbc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val dbDir = tempDir("graft_derby_stream").toString
    val url = s"jdbc:derby:$dbDir/wh;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val events = EventsStream.readEventsStream(spark, streamDir.toString)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
    val q = EventsStream.latestPerUser(events)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventsStream.LatestEvent], _: Long) =>
        graft.etl.Load.writeJdbc(
          Map("latest_events" -> batch.toDF()), url, props)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val fromDb = spark.read.jdbc(url, "latest_events", props).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("lastus"), r.getAs[String]("event_type")))).toMap
    val batchTwin = graft.ops.EventsOps.dedupLatest(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("event_type")).toMap
    assert(fromDb.nonEmpty)
    assert(fromDb.keySet === batchTwin.keySet)
    fromDb.foreach { case (u, (_, t)) => assert(batchTwin(u) === t, s"user $u") }
  }

  test("checkpointed file-sink query restarted mid-stream: resumed run equals uninterrupted run, no duplicate/lost windows") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.OutputMode
    import scala.jdk.CollectionConverters._
    val raw = graft.etl.Tables.eventsRaw(spark, sfDir)
    // split arrivals at the median event time: half1 lands before the
    // stop, half2 after the restart, so the hour containing the cut has
    // rows on BOTH sides — its final count is only correct if the
    // aggregation state survived the restart
    val cutNs = raw.selectExpr("CAST(percentile_approx(ts, 0.5) AS BIGINT)").first().getLong(0)
    def stage(df: org.apache.spark.sql.DataFrame, dir: java.nio.file.Path, name: String): Unit =
      stagePart(df, dir.resolve(name))
    def runToCompletion(streamDir: String, outDir: String, ckDir: String): Unit = {
      val q = EventsStream.hourlyCounts(EventsStream.readEventsStream(spark, streamDir))
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckDir)
        .start(outDir) // parquet file sink (the default format)
      q.processAllAvailable()
      q.stop()
    }
    // key windows by RAW MICROSECONDS, not rendered strings:
    // java.sql.Timestamp.toString renders in the JVM default timezone,
    // so a string key would shift the finalizedBy cutoff by the local
    // offset on a non-UTC JVM (spuriously failing — or silently
    // weakening — the completeness check below)
    def readOut(outDir: String): Map[(Long, String), (Long, Double)] =
      (try spark.read.parquet(outDir)
        .withColumn("WUs", org.apache.spark.sql.functions
          .unix_micros(col("WindowStart"))).collect()
      catch { case _: Throwable => Array.empty[org.apache.spark.sql.Row] })
        .map(r => (r.getAs[Long]("WUs"), r.getAs[String]("event_type")) ->
          ((r.getAs[Long]("NEvents"), r.getAs[Double]("TotalValue")))).toMap

    // interrupted run: half1 → stop → half2 → restart from checkpoint
    val streamDir = tempDir("graft_restart_in")
    val outDir = tempDir("graft_restart_out").toString
    val ckDir = tempDir("graft_restart_ck").toString
    stage(raw.filter(col("ts") <= cutNs), streamDir, "half1.parquet")
    runToCompletion(streamDir.toString, outDir, ckDir)
    val afterPhase1 = readOut(outDir)
    stage(raw.filter(col("ts") > cutNs), streamDir, "half2.parquet")
    runToCompletion(streamDir.toString, outDir, ckDir)
    val resumed = readOut(outDir)

    // control: the same data, same query, never interrupted
    val streamDir2 = tempDir("graft_restart_in2")
    val outDir2 = tempDir("graft_restart_out2").toString
    stage(raw, streamDir2, "all.parquet")
    runToCompletion(streamDir2.toString, outDir2,
      tempDir("graft_restart_ck2").toString)
    val uninterrupted = readOut(outDir2)

    // the restart finalized MORE windows (it did resume, not replay-nothing)
    assert(afterPhase1.nonEmpty && resumed.size > afterPhase1.size)
    // no duplicates: the file sink's _spark_metadata must commit each
    // finalized window exactly once across the two process incarnations
    val dupCheck = spark.read.parquet(outDir)
      .groupBy(col("WindowStart"), col("event_type")).count()
      .filter(col("count") > 1).count()
    assert(dupCheck === 0L, "a window was emitted twice across the restart")
    // no lost/extra: resumed == uninterrupted, keys AND values
    assert(resumed === uninterrupted)
    // state survival: the cut-straddling hour aggregated rows from both
    // incarnations; its value must match the batch query over all data.
    // The batch side's HourTs strings were rendered by Spark under the
    // session's UTC timezone, so parsing them with an explicit UTC
    // formatter recovers the exact window-start instant
    val cutHourUs = cutNs / 1000000000L / 3600L * 3600L * 1000000L
    val hourFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    def hourTsToUs(s: String): Long = java.time.LocalDateTime
      .parse(s, hourFmt).toInstant(java.time.ZoneOffset.UTC)
      .getEpochSecond * 1000000L
    val batch = EventsOps.hourly(spark, sfDir).collect()
      .map(r => (hourTsToUs(r.getAs[String]("HourTs")), r.getAs[String]("event_type")) ->
        ((r.getAs[Long]("NEvents"), r.getAs[Double]("TotalValue")))).toMap
    val straddling = resumed.filter(_._1._1 == cutHourUs)
    assert(straddling.nonEmpty, s"cut hour $cutHourUs was not finalized — split landed too late in the stream")
    straddling.foreach { case (k, v) =>
      assert(batch(k) === v, s"cut-straddling window $k lost pre-restart state")
    }
    // full batch-oracle equivalence over the finalized domain (the
    // gate query's hash bar, applied across the restart): EVERY
    // emitted window must carry exactly the batch value, and every
    // batch window watermark-finalized by the last arrival (window
    // end ≤ max ts − 30 min) must have been emitted — restart
    // equivalence as "nothing wrong AND nothing missing", not just
    // the one straddling hour
    resumed.foreach { case (k, v) =>
      assert(batch(k) === v, s"window $k diverged from the batch oracle across the restart")
    }
    val maxUs = raw.selectExpr("CAST(max(ts) AS BIGINT)").first().getLong(0) / 1000L
    val finalizedBy = maxUs - 30L * 60L * 1000000L
    val mustHave = batch.keySet.filter { case (wus, _) =>
      wus + 3600L * 1000000L <= finalizedBy
    }
    val missing = mustHave -- resumed.keySet
    assert(missing.isEmpty, s"watermark-finalized windows lost across the restart: $missing")
  }

  test("foreachBatch decontamination over a two-file doc stream matches batch curate_decontaminate") {
    import graft.streaming.DocsStream
    // documents arrive as a two-microbatch stream; the eval shingle
    // set stays static across both (foreachBatch kernel — a plain
    // streaming groupBy would pin one state row per doc forever)
    val streamDir = tempDir("graft_stream_docs")
    graft.etl.Tables.documents(spark, sfDir)
      .repartition(2).write.mode("overwrite").parquet(s"$streamDir/docs")
    val evalSh = graft.ops.CurateOps.evalShingles(spark, sfDir)
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    val stream = spark.readStream.schema(graft.etl.Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/docs")
    val q = DocsStream.runDecontaminate(spark, stream, evalSh) { out =>
      val rows = out.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("NEvalDocs"), r.getAs[Int]("NSharedShingles")))
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected at least two non-empty microbatches")
    assert(buf.size === buf.map(_._1).toSet.size, "a doc was emitted twice")
    val streamed = buf.map { case (id, ne, ns) => id -> ((ne, ns)) }.toMap
    val batch = graft.ops.CurateOps.decontaminate(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("NEvalDocs"), r.getAs[Int]("NSharedShingles"),
          r.getAs[Boolean]("IsContaminated")))).toMap
    // the stream emits exactly the contaminated train docs (inner join);
    // the batch zero-fills the clean ones
    assert(streamed.keySet === batch.collect { case (id, (_, _, true)) => id }.toSet)
    assert(streamed.nonEmpty, "no contaminated docs — the equivalence is vacuous")
    streamed.foreach { case (id, (ne, ns)) =>
      assert(batch(id)._1 === ne, s"doc $id NEvalDocs: stream=$ne batch=${batch(id)._1}")
      assert(batch(id)._2 === ns, s"doc $id NSharedShingles: stream=$ns batch=${batch(id)._2}")
    }
  }

  test("foreachBatch decontamination at n=3 (raw string shingle keys) matches batch decontaminate end-to-end") {
    import graft.streaming.DocsStream
    // the round-13 advice bug was SPECIFICALLY n = 3: the shared
    // 3-gram substrate keeps raw STRING shingle keys where wide
    // windows carry xxhash64 int64 — a consumer hand-rolling the hash
    // would join bigint against string and silently match nothing.
    // shingleKeysSql makes that unwritable; this drives the n = 3 key
    // type through the WHOLE streaming twin (runDecontaminate →
    // decontaminateBatch → join against evalShingles(n = 3)) on a
    // PLANTED corpus where every doc shares one 3-gram — train-test
    // overlap exists whatever splitOf assigns, so a silently-empty
    // join cannot pass
    val dir = tempDir("graft_n3_docs")
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      val text = s"alpha beta gamma tok$i fill${i % 7} end$i"
      (i, text, "en", s"s${i % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    docs.repartition(2).write.parquet(s"$dir/stream")
    val evalSh3 = graft.ops.CurateOps.evalShingles(spark, dir.toString, n = 3)
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    val stream = spark.readStream.schema(graft.etl.Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/stream")
    val q = DocsStream.runDecontaminate(spark, stream, evalSh3, n = 3) { out =>
      val rows = out.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("NEvalDocs"), r.getAs[Int]("NSharedShingles")))
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable()
    q.stop()
    assert(buf.size === buf.map(_._1).toSet.size, "a doc was emitted twice")
    val streamed = buf.map { case (id, ne, ns) => id -> ((ne, ns)) }.toMap
    val batch = graft.ops.CurateOps.decontaminate(spark, dir.toString, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("NEvalDocs"), r.getAs[Int]("NSharedShingles"),
          r.getAs[Boolean]("IsContaminated")))).toMap
    assert(streamed.keySet === batch.collect { case (id, (_, _, true)) => id }.toSet)
    // the planted 3-gram guarantees contamination: every train doc
    // shares "alpha beta gamma" with every test doc — a zero-hit run
    // (the silent bigint-vs-string class) fails HERE, not vacuously
    assert(streamed.nonEmpty && streamed.keySet === batch.keySet,
      "every planted train doc must flag contaminated at n = 3")
    streamed.foreach { case (id, (ne, ns)) =>
      assert(batch(id)._1 === ne, s"doc $id NEvalDocs: stream=$ne batch=${batch(id)._1}")
      assert(batch(id)._2 === ns, s"doc $id NSharedShingles: stream=$ns batch=${batch(id)._2}")
    }
  }

  test("foreachBatch incremental dedup over a two-file doc stream equals batch dedup_incremental") {
    import graft.ops.DedupOps
    // the new-arrival docs land as TWO files = two microbatches; the
    // corpus band index stays static across both
    val streamDir = tempDir("graft_stream_incdedup")
    graft.etl.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % DedupOps.NewArrivalMod === DedupOps.NewArrivalRemainder)
      .repartition(2).write.mode("overwrite").parquet(s"$streamDir/docs")
    val corpus = DedupOps.corpusBandIndex(spark, sfDir)
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(graft.etl.Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/docs")
    val q = stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val rows = DedupOps.incrementalAgainst(spark, batch, corpus).collect()
        .map(r => (r.getAs[Long]("NewId"), r.getAs[Long]("CorpusId"), r.getAs[Double]("Jaccard")))
      buf.synchronized { buf ++= rows }
      ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected at least two non-empty microbatches")
    val batch = DedupOps.incremental(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("NewId"), r.getAs[Long]("CorpusId"),
        r.getAs[Double]("Jaccard"))).toSet
    assert(buf.nonEmpty && buf.size === buf.toSet.size, "duplicate emissions across batches")
    assert(buf.toSet === batch)
  }

  test("foreachBatch incremental vec dedup over a two-file stream equals batch similarity_incremental_dedup") {
    import graft.ops.SimilarityOps
    // the new-arrival vectors land as TWO files = two microbatches; the
    // persisted IVF index (codebook + corpus lists) stays static
    val streamDir = tempDir("graft_stream_vecdedup")
    val isNew = col("vec_id") % SimilarityOps.NewVecMod === SimilarityOps.NewVecRemainder
    graft.etl.Tables.embeddings(spark, sfDir)
      .filter(isNew)
      .repartition(2).write.mode("overwrite").parquet(s"$streamDir/vecs")
    val base = SimilarityOps.ivfIndexPath(spark, sfDir)
    val cent = spark.read.parquet(s"$base/codebook")
    val corpusLists = spark.read.parquet(s"$base/lists").filter(!isNew)
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(graft.etl.Tables.embeddingsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/vecs")
    val q = stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // the native functions come with the stream's session clone
      val arrivalsQ = batch
        .select(col("vec_id").as("QId"), expr("quantize_vec(embedding)").as("QP"))
        .withColumn("NormP", expr("long_dot(QP, QP)"))
      val rows = SimilarityOps.incrementalDedupAgainst(arrivalsQ, cent, corpusLists).collect()
        .map(r => (r.getAs[Long]("NewId"), r.getAs[Long]("CorpusId"), r.getAs[Double]("Cosine")))
      buf.synchronized { buf ++= rows }
      ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected at least two non-empty microbatches")
    val batch = SimilarityOps.incrementalDedup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("NewId"), r.getAs[Long]("CorpusId"),
        r.getAs[Double]("Cosine"))).toSet
    assert(buf.nonEmpty && buf.size === buf.toSet.size, "duplicate emissions across batches")
    assert(buf.toSet === batch)
  }

  test("mapGroupsWithState latest-per-user matches batch events_dedup_latest") {
    import spark.implicits._
    implicit val s = spark
    val events = graft.etl.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val streamed = EventsStream.latestPerUser(events).collect()
      .map(l => l.user_id -> ((fmt.format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(l.lastUs, 1000000L))), l.event_type, l.value))).toMap
    val batch = EventsOps.dedupLatest(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") -> ((r.getAs[String]("LastTs"),
        r.getAs[String]("event_type"), r.getAs[Double]("value")))).toMap
    assert(streamed === batch)
  }

  test("mapGroupsWithState funnel over a two-file event stream matches batch events_funnel") {
    import spark.implicits._
    implicit val s = spark
    // events land as two microbatches; the per-user funnel state must
    // carry step progress across the file boundary
    val streamDir = tempDir("graft_stream_funnel")
    graft.etl.Tables.eventsRaw(spark, sfDir)
      .repartition(2).write.mode("overwrite").parquet(s"$streamDir/events")
    val events = EventsStream.readEventsStream(spark, s"$streamDir/events",
        maxFilesPerTrigger = Some(1))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
    val last = collection.mutable.Map.empty[Long, EventsStream.UserFunnel]
    val q = EventsStream.funnelProgress(events)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventsStream.UserFunnel], _: Long) =>
        val rows = batch.collect()
        last.synchronized { rows.foreach(u => last(u.user_id) = u) }
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected at least two non-empty microbatches")

    // fold the per-user end states into the batch query's step rows
    val users1 = last.values.count(_.t1.isDefined).toLong
    val users2 = last.values.count(_.t2.isDefined).toLong
    val users3 = last.values.count(_.t3.isDefined).toLong
    val batchRows = EventsOps.funnel(spark, sfDir).collect()
      .map(r => r.getAs[Int]("Step") ->
        ((r.getAs[Long]("Users"), r.getAs[Double]("CumRate"), r.getAs[Double]("StepRate")))).toMap
    assert(users1 > 0 && users2 > 0 && users3 > 0, "vacuous funnel")
    assert(batchRows(1)._1 === users1)
    assert(batchRows(2)._1 === users2)
    assert(batchRows(3)._1 === users3)
    // the rates are pure functions of the counts — recompute and match
    assert(batchRows(2)._2 === users2.toDouble / users1)
    assert(batchRows(3)._2 === users3.toDouble / users1)
    assert(batchRows(3)._3 === users3.toDouble / users2)
  }

  test("flatMapGroupsWithState transition pairs over a time-split two-file stream match the batch matrix") {
    import spark.implicits._
    implicit val s = spark
    // TIME split (not a hash split): the last-event state contract
    // requires per-user event time non-decreasing across triggers;
    // every transition straddling the cut is only found if the state
    // carried the pre-cut last event over the batch boundary
    val raw = graft.etl.Tables.eventsRaw(spark, sfDir)
    // place the cut INSIDE a real transition (midpoint of some
    // within-session consecutive pair) so at least one transition
    // straddles the file boundary BY CONSTRUCTION — a median cut can
    // land between sessions on a sparse corpus and test nothing
    val wcut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val inPair = graft.etl.Tables.events(spark, sfDir)
      .withColumn("us", expr("ts_ns div 1000"))
      .withColumn("prev_us", lag(col("us"), 1).over(wcut))
      .filter(col("prev_us").isNotNull &&
        col("us") - col("prev_us") <= 1800L * 1000000L &&
        col("us") > col("prev_us")) // strict gap: a midpoint exists
      .select(((col("prev_us") + col("us")) / 2).cast("bigint").as("CutUs"))
      .orderBy(col("CutUs"))
    assert(inPair.count() > 0, "corpus has no within-session transition with a positive gap")
    val cutNs = inPair.first().getLong(0) * 1000L
    val streamDir = tempDir("graft_stream_trans")
    stagePart(raw.filter(col("ts").cast("bigint") <= cutNs),
      streamDir.resolve("a.parquet"), Some(1000L))
    stagePart(raw.filter(col("ts").cast("bigint") > cutNs),
      streamDir.resolve("b.parquet"), Some(2000L))
    val events = EventsStream.readEventsStream(spark, streamDir.toString,
        maxFilesPerTrigger = Some(1))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
    val pairs = collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = EventsStream.transitionPairs(events)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventsStream.TransitionPair], _: Long) =>
        val rows = batch.collect()
        pairs.synchronized { rows.foreach(p => pairs += ((p.from, p.to))) }
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected at least two non-empty microbatches")
    val got = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = graft.ops.EventsOps.transitionMatrix(spark, sfDir).collect()
      .map(r => (r.getAs[String]("From"), r.getAs[String]("To")) ->
        r.getAs[Long]("NTransitions")).toMap
    assert(got === want, "streamed transition counts diverge from the batch matrix")
    // non-vacuous straddle: at least one user has events on both sides
    // of the cut within one session (else the state carry is untested)
    val wus = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val straddle = graft.etl.Tables.events(spark, sfDir)
      .withColumn("us", expr("ts_ns div 1000"))
      .withColumn("prev_us", lag(col("us"), 1).over(wus))
      .filter(col("prev_us").isNotNull &&
        col("us") - col("prev_us") <= 1800L * 1000000L &&
        col("prev_us") <= lit(cutNs / 1000L) && col("us") > lit(cutNs / 1000L))
      .count()
    assert(straddle > 0, "no cut-straddling transition — split landed degenerately")
  }

  test("stream-stream interval join over a two-file event stream matches batch click attribution") {
    // a true stream-stream join: both sides are streaming, pairs are
    // emitted as their second half arrives across microbatch
    // boundaries. Delay spans the corpus so the hash-split replay
    // (arbitrary event order) drops nothing — per-user aggregates of
    // the emitted pairs must equal the batch interval join exactly.
    val streamDir = tempDir("graft_stream_attr")
    graft.etl.Tables.eventsRaw(spark, sfDir)
      .repartition(2).write.mode("overwrite").parquet(s"$streamDir/events")
    val events = EventsStream.readEventsStream(spark, s"$streamDir/events",
      maxFilesPerTrigger = Some(1))
    val q = EventsStream.clickAttribution(events, delay = "3650 days")
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_pairs").start()
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected at least two non-empty microbatches")
    val got = spark.table("attr_pairs")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("Pairs"),
        min(col("LagUs")).as("MinLagUs"),
        max(col("LagUs")).as("MaxLagUs"),
        sum(col("LagUs")).as("SumLagUs"))
      .orderBy(col("user_id")).collect()
    assert(got.nonEmpty)
    // no pair emitted twice: total pair count equals the batch join's
    val batch = EventsOps.clickAttribution(spark, sfDir).collect()
    assert(got.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "stream-stream join diverged from the batch interval join")
  }

  test("native session_window streaming agg finalizes every batch session exactly") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val raw = graft.etl.Tables.eventsRaw(spark, sfDir)
    val cutNs = raw.selectExpr("CAST(percentile_approx(ts, 0.5) AS BIGINT)").first().getLong(0)
    val maxNs = raw.selectExpr("CAST(max(ts) AS BIGINT)").first().getLong(0)
    // time-ordered staging (no late data), plus a far-future sentinel
    // event for a dummy user: its arrival pushes the watermark past
    // every real session's end, so append mode finalizes ALL of them —
    // the sentinel's own session stays in-flight and is never emitted
    val streamDir = tempDir("graft_stream_sess")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit =
      stagePart(df, streamDir.resolve(name), Some(mtime))
    val t0 = System.currentTimeMillis() - 60000
    stage(raw.filter(col("ts") <= cutNs), "a_half1.parquet", t0)
    stage(raw.filter(col("ts") > cutNs), "b_half2.parquet", t0 + 10000)
    stage(raw.limit(1).select(
      lit(-1L).as("event_id"),
      lit(maxNs + 30L * 86400L * 1000000000L).as("ts"),
      lit(-1L).as("user_id"),
      lit("view").as("event_type"),
      lit(0.0).as("value"),
      lit("{}").as("props")), "c_flush.parquet", t0 + 20000)
    val q = EventsStream.sessionValueCounts(
        EventsStream.readEventsStream(spark, streamDir.toString,
          maxFilesPerTrigger = Some(1)),
        delay = "1 second")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_windows").start()
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    val got = spark.table("sess_windows")
      .filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("StartUs")).collect()
    val batch = EventsOps.sessionWindows(spark, sfDir).collect()
    assert(got.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "streaming session_window diverged from the batch twin")
    // a session straddling the file cut proves cross-batch merging
    val straddle = batch.exists { r =>
      r.getAs[Long]("StartUs") <= cutNs / 1000 && r.getAs[Long]("EndUs") > cutNs / 1000
    }
    assert(straddle, "no session straddles the staged cut — merge untested")
  }

  test("hourly agg runs on an UNBOUNDED rate source (broker stand-in): counts conserve input rows") {
    // No broker jar ships in this offline image; the rate source is
    // the standard unbounded stand-in — this proves the windowed
    // operator is source-agnostic (event-time only), not coupled to
    // the FileStreamSource the other tests use. Update-mode sink rows
    // are per-trigger snapshots, so per-key NEvents is monotone and
    // the LAST snapshot per key must conserve the exact input total.
    // The input total comes from a StreamingQueryListener accumulator,
    // NOT recentProgress: the progress buffer retains only
    // numRecentProgressUpdates entries (default 100), so a slow run
    // past 100 microbatches would silently undercount and fail the
    // exact-equality check spuriously; the listener sees every
    // progress event with no retention limit.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val inputRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val nonEmptyBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "rate_hourly") {
          inputRows.addAndGet(e.progress.numInputRows)
          if (e.progress.numInputRows > 0) nonEmptyBatches.incrementAndGet()
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener) // before start(): no missed events
    try {
      val ev = spark.readStream.format("rate")
        .option("rowsPerSecond", "500").option("numPartitions", "2").load()
        .select(col("timestamp").as("ts"),
          element_at(lit(Array("view", "click", "purchase", "signup", "error")),
            (col("value") % 5).cast("int") + 1).as("event_type"),
          (col("value") % 100).cast("double").as("value"))
      val q = EventsStream.hourlyCounts(ev)
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .format("memory").queryName("rate_hourly").start()
      val deadline = System.currentTimeMillis() + 60000
      while (nonEmptyBatches.get() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      q.processAllAvailable() // drain what the last trigger admitted
      q.stop()
      // listener events are delivered async on the listener-bus
      // thread: wait until the accumulator goes quiet before reading
      val quietBy = System.currentTimeMillis() + 30000
      var last = -1L
      while (last != inputRows.get() && System.currentTimeMillis() < quietBy) {
        last = inputRows.get()
        Thread.sleep(500)
      }
      assert(nonEmptyBatches.get() >= 2,
        "rate source never produced two non-empty batches")
      val input = inputRows.get()
      val counted = spark.table("rate_hourly")
        .groupBy(col("WindowStart"), col("event_type"))
        .agg(max(col("NEvents")).as("N")) // last (= max) snapshot per key
        .agg(sum(col("N"))).head().getLong(0)
      assert(input > 0L)
      assert(counted === input,
        s"windowed counts ($counted) do not conserve the unbounded input ($input)")
    } finally spark.streams.removeListener(listener)
  }

  test("drift histogram state accumulates across TWO microbatches to the batch card") {
    import java.nio.file.Files
    val docs = graft.etl.Tables.documents(spark, sfDir)
    val watch = tempDir("graft_drift_watch")
    try {
      stagePart(docs.filter(col("doc_id") % 2 === 0), watch.resolve("h1.parquet"))
      val perSource = graft.ops.TextOps.driftPerSource(
        graft.streaming.DocsStream.readDocsStream(spark, watch.toString)
          .withColumn("TS", expr("token_stats(text)")))
      val q = perSource.writeStream
        .outputMode("complete").format("memory").queryName("drift_2b").start()
      try {
        q.processAllAvailable()
        val afterB1 = spark.table("drift_2b")
          .agg(sum(col("NDocs"))).collect()(0).getLong(0)
        val total = docs.count()
        assert(afterB1 > 0 && afterB1 < total,
          s"first trigger saw $afterB1 of $total docs — two-batch split did not happen")
        stagePart(docs.filter(col("doc_id") % 2 === 1), watch.resolve("h2.parquet"))
        q.processAllAvailable()
      } finally q.stop()
      // the accumulated state, shaped by the SAME chi2 kernel, equals
      // the batch card row-for-row (values AND flags)
      val got = graft.ops.TextOps.driftFromPerSource(spark.table("drift_2b"))
        .collect().map(_.toSeq).toSeq
      val want = graft.ops.TextOps.driftChisq(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(got === want, "two-microbatch drift state diverged from the batch card")
      spark.catalog.dropTempView("drift_2b")
    } finally graft.ops.BucketedTables.deleteRecursively(watch)
  }

  test("kmv source sketches: per-batch partials merged by re-sketching equal the whole-corpus sketch; stream twin equals batch estimates") {
    // the composability claim the streaming twin rests on: bottom-k
    // of a union of bottom-ks IS the bottom-k of the union, so an
    // ARBITRARY batch split (here doc_id parity — interleaved, not a
    // prefix) merges to exactly the whole-corpus sketch
    val docs = graft.etl.Tables.documents(spark, sfDir)
    val p1 = graft.streaming.DocsStream.sourceSketchBatch(
      spark, docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    val p2 = graft.streaming.DocsStream.sourceSketchBatch(
      spark, docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    val merged = graft.ops.TextOps.kmvSketchOf(
      p1.unionByName(p2).select(col("source"), explode(col("Ks")).as("V")))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val whole = graft.streaming.DocsStream.sourceSketchBatch(spark, docs)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged.keySet === whole.keySet)
    whole.foreach { case (s, ks) =>
      assert(merged(s) === ks, s"merged sketch diverged for source $s")
    }
    // end-to-end: the one-shot stream twin's estimate columns equal
    // the batch query's (same sketches, same pair math definition)
    val stream = graft.streaming.DocsStream
      .sourceOverlapStreamQuery(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    val batch = graft.ops.TextOps.sourceOverlapKmv(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("EstUnion"), r.getAs[Double]("EstOverlap"))).toMap
    assert(stream.keySet === batch.keySet)
    assert(stream.keySet.size === 190)
    batch.foreach { case (k, v) =>
      assert(stream(k) === v, s"stream estimate diverged from batch for $k")
    }
    // the DIFFERENCE twin rides the same merged sketches: its
    // estimate columns must equal the batch difference query's
    val dStream = graft.streaming.DocsStream
      .sourceDifferenceStreamQuery(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("EstAOnly"), r.getAs[Double]("EstBOnly"),
          r.getAs[Double]("ContainAB"))).toMap
    val dBatch = graft.ops.TextOps.sourceDifferenceKmv(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("EstAOnly"), r.getAs[Double]("EstBOnly"),
          r.getAs[Double]("ContainAB"))).toMap
    assert(dStream.keySet === dBatch.keySet)
    dBatch.foreach { case (k, v) =>
      assert(dStream(k) === v, s"difference twin diverged from batch for $k")
    }
  }

  /** Rows as a multiset, doubles compared to 1e-9 relative: sorted on
    * a key that formats doubles coarsely, then paired up. */
  private def assertSameRows(got: Array[org.apache.spark.sql.Row],
                             want: Array[org.apache.spark.sql.Row], what: String): Unit = {
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map {
      case d: Double => f"$d%.6e"
      case v => String.valueOf(v)
    }.mkString("|")
    assert(got.length === want.length, s"$what: ${got.length} rows vs ${want.length}")
    got.sortBy(key).zip(want.sortBy(key)).foreach { case (g, w) =>
      val same = g.length == w.length && g.toSeq.zip(w.toSeq).forall {
        case (a: Double, b: Double) =>
          (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        case (a, b) => a == b
      }
      assert(same, s"$what: stream row $g != batch row $w")
    }
  }

  test("gate twins equal their batch twins and leave no query, view or staging dir behind") {
    // the twins whose oracle IS their batch sibling's SQL; the two
    // sketch twins emit estimate columns only (covered above)
    val twins = Seq("events_hourly", "events_session_windows",
      "events_click_attribution", "events_funnel", "events_dedup_latest",
      "events_asof_view", "events_transition_matrix",
      "curate_decontaminate", "text_drift_chisq")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    // the session-window sink dir (`graft_sess_sink*`) is the one dir
    // a twin keeps: its frame reads it lazily until JVM exit
    def staged() = tmp.list().filter(_.startsWith(graft.streaming.OneShot.Prefix)).toSet
    def tempViews() = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val stagedBefore = staged()
    val viewsBefore = tempViews()
    twins.foreach { batchName =>
      val name = s"${batchName}_stream"
      assert(SparkEntry.oracleSql(name) === SparkEntry.oracleSql(batchName),
        s"$name no longer shares its batch twin's oracle")
      assertSameRows(SparkEntry.queries(name)(spark, sfDir).collect(),
        SparkEntry.queries(batchName)(spark, sfDir).collect(), name)
    }
    assert(spark.streams.active.isEmpty,
      s"queries left running: ${spark.streams.active.map(_.name).mkString(", ")}")
    assert(tempViews() -- viewsBefore === Set.empty[String], "sink views left registered")
    assert(staged() -- stagedBefore === Set.empty[String], "staging dirs left in tmp")
  }

  test("events one-shot staging takes a part-file events.parquet directory") {
    import java.nio.file.Files
    // the fixture with events.parquet rewritten as two part files, the
    // layout Tables.eventsRaw and the ts sniff already accept
    val fx = tempDir("graft_partfile_fixture")
    try {
      new java.io.File(sfDir).listFiles().filter(_.getName != "events.parquet")
        .foreach(f => Files.copy(f.toPath, fx.resolve(f.getName)))
      spark.read.parquet(s"$sfDir/events.parquet").repartition(2)
        .write.parquet(s"$fx/events.parquet")
      assert(new java.io.File(s"$fx/events.parquet").listFiles()
        .count(_.getName.endsWith(".parquet")) === 2)
      val dir = fx.toString
      assertSameRows(EventsStream.hourlyStreamQuery(spark, dir).collect(),
        EventsOps.hourly(spark, dir).collect(), "hourly")
      assertSameRows(EventsStream.dedupLatestStreamQuery(spark, dir).collect(),
        EventsOps.dedupLatest(spark, dir).collect(), "dedup_latest")
      assert(EventsOps.hourly(spark, dir).agg(sum("NEvents")).head().getLong(0) === 1000L)
    } finally {
      graft.Substrates.invalidate(spark, fx.toString)
      graft.etl.Tables.forgetTsEncoding(s"$fx/events.parquet")
      graft.ops.BucketedTables.deleteRecursively(fx)
    }
  }
}
