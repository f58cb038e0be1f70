package perfbench

import java.io.{File, PrintWriter}
import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSession
import graft.SparkEntry
import graft.etl.{Load, Pipeline, Transactions}

/** One benchmark run inside one fresh JVM.
  *
  * Reads a plan written by `run.py` (one `key<TAB>value` per line, then
  * one `op<TAB>pass<TAB>name` line per timed operation, in execution
  * order, and `file<TAB>name<TAB>path` lines naming parquet files to
  * fingerprint), builds the session through `GraftSession.local`, executes
  * every op as a single closed-loop client and appends one JSON record
  * per event to the results file. Only the op itself is timed: result
  * fingerprints, sink read-backs and storage sizing run between or
  * after the timed regions.
  *
  * Op names:
  *   - a `SparkEntry.queries` key: build the DataFrame and `collect()` it;
  *   - `etl:clean`: `Transactions.cleaned` for the data dir, counted;
  *   - `etl:csv:<t>`, `etl:parquet:<t>`, `etl:jdbc:<t>`: one table of
  *     `Pipeline.transform` through `Load.writeCsv` / `writeParquet` /
  *     `writeJdbc` at `Load.embeddedSink` (the sqlite role);
  *   - `etl:count:<t>`: the row count `Pipeline.run` returns for `t`.
  * A pass of an ETL plan writes under `<sink>/pass<n>`; every pass after
  * the first starts by dropping the cleaned-table cache, so each pass
  * repeats the whole nightly job. */
object Harness {

  def main(args: Array[String]): Unit = {
    val plan = Source.fromFile(args(0), "UTF-8").getLines().map(_.split("\t", -1).toSeq).toVector
    val conf = plan.collect { case Seq(k, v) => k -> v }.toMap
    val ops = plan.collect { case Seq("op", p, name) => (p.toInt, name) }
    val files = plan.collect { case Seq("file", name, path) => (name, path) }
    val out = new PrintWriter(new File(conf("results")), "UTF-8")
    def emit(fields: (String, Any)*): Unit = { out.println(Json.obj(fields)); out.flush() }

    val roots = conf("roots").split(",").toSeq
    emit("kind" -> "roots", "empty" -> roots.forall(r => dirBytes(new File(r)) == 0L))

    val tracer = if (conf("trace") == "1") Some(new Tracer) else None
    tracer.foreach(Tracer.current = _)
    val t0 = System.nanoTime()
    val spark = GraftSession.local(extraConfs = if (tracer.isEmpty) Nil else Tracer.confs)
    val sessionS = (System.nanoTime() - t0) / 1e9
    emit("kind" -> "ready", "epoch_ms" -> System.currentTimeMillis(), "session_s" -> sessionS,
      "cores" -> spark.sparkContext.defaultParallelism)
    tracer.foreach(t => spark.sparkContext.addSparkListener(t.sparkListener))
    val dir = conf("data")
    val sink = conf("sink")
    val queries = SparkEntry.queries

    // results written by another engine (the DuckDB oracle), fingerprinted
    // with the same `Fingerprint` as the ops' results
    for ((name, path) <- files) {
      val fp = try Right {
        val df = spark.read.parquet(path)
        Fingerprint.of(df.columns.toSeq, df.collect())
      } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}") }
      emit("kind" -> "file", "name" -> name, "fp" -> fp.toOption.orNull, "err" -> fp.left.toOption.orNull)
    }
    var tablesPass = -1
    var tables: Map[String, DataFrame] = Map.empty

    def etlTables(pass: Int): Map[String, DataFrame] = {
      if (pass != tablesPass) {
        if (tablesPass >= 0) Transactions.invalidate(spark)
        tables = Pipeline.transform(spark, dir)
        tablesPass = pass
      }
      tables
    }

    /** Run one op; returns the rows to fingerprint (None for writes). */
    def runOp(pass: Int, name: String): (Option[(Seq[String], Array[Row])], Long) =
      name.split(":", -1).toSeq match {
        case Seq("etl", "clean") =>
          etlTables(pass)
          (None, Transactions.cleaned(spark, dir).count())
        case Seq("etl", sinkKind, t) =>
          val df = etlTables(pass)(t)
          val passDir = s"$sink/pass$pass"
          sinkKind match {
            case "csv" => Load.writeCsv(Map(t -> df), passDir); (None, -1L)
            case "parquet" => Load.writeParquet(Map(t -> df), passDir); (None, -1L)
            case "jdbc" =>
              val e = Load.embeddedSink(passDir)
              Load.writeJdbc(Map(t -> df), e.url, e.props, roundDoubles = false, lowercaseCols = false)
              (None, -1L)
            case "count" => (None, df.count())
          }
        case _ =>
          val df = queries(name)(spark, dir)
          val rows = df.collect()
          (Some((df.columns.toSeq, rows)), rows.length.toLong)
      }

    val wchar0 = wchar()
    for ((pass, name) <- ops) {
      val startMs = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val res = try Right(runOp(pass, name)) catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - s0) / 1e9
      val endMs = System.currentTimeMillis()
      tracer.foreach(_.opWindow(pass, name, startMs, endMs))
      res match {
        case Right((result, n)) =>
          val fp = result.map { case (cols, rows) => Fingerprint.of(cols, rows) }
          emit("kind" -> "op", "pass" -> pass, "name" -> name, "s" -> secs, "rows" -> n,
            "fp" -> fp.orNull, "err" -> null)
        case Left(e) =>
          emit("kind" -> "op", "pass" -> pass, "name" -> name, "s" -> secs, "rows" -> -1,
            "fp" -> null, "err" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }

    emit("kind" -> "io", "wchar" -> (wchar() - wchar0),
      "index_bytes" -> (dirBytes(new File(conf("ivf"))) + dirBytes(new File(conf("agg")))))
    if (conf.get("oracle").contains("1"))
      for (name <- ops.map(_._2).distinct ++ Seq("customer_summary", "product_summary",
          "daily_sales", "country_summary"); sql <- SparkEntry.oracleSql.get(name))
        emit("kind" -> "oracle", "name" -> name, "sql" -> sql)

    // ---- untimed: read every sink table of the first ETL pass back ----
    val etlTablesWritten = ops.filter(o => o._1 == 1 && o._2.startsWith("etl:"))
      .map(_._2.split(":", -1).toSeq).collect { case Seq("etl", k, t) if k != "count" => (k, t) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val readbacks = etlTablesWritten.map { case (kind, t) => Future {
      val passDir = s"$sink/pass1"
      val res = try {
        val df = kind match {
          case "csv" => spark.read.option("header", "true").csv(s"$passDir/csv/$t")
          case "parquet" => spark.read.parquet(s"$passDir/parquet/$t")
          case "jdbc" =>
            val e = Load.embeddedSink(passDir)
            spark.read.jdbc(e.url, t, e.props)
        }
        // csv drops types, so only its row count is comparable
        if (kind == "csv") Right((df.count(), null))
        else {
          val rows = df.collect()
          Right((rows.length.toLong, Fingerprint.of(df.columns.toSeq, rows)))
        }
      } catch { case e: Throwable => Left(e) }
      res match {
        case Right((n, fp)) =>
          Seq("kind" -> "readback", "sink" -> kind, "table" -> t, "rows" -> n, "fp" -> fp, "err" -> null,
            "bytes" -> dirBytes(new File(kind match {
              case "jdbc" => s"$passDir/sales_data.db"
              case k => s"$passDir/$k/$t"
            })))
        case Left(e) =>
          Seq("kind" -> "readback", "sink" -> kind, "table" -> t, "rows" -> -1, "fp" -> null,
            "err" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}", "bytes" -> 0)
      }
    }}
    readbacks.foreach(f => emit(Await.result(f, Duration.Inf): _*))
    pool.shutdown()

    val storage = spark.sparkContext.getRDDStorageInfo
    emit("kind" -> "storage", "cached_bytes" -> storage.map(r => r.memSize + r.diskSize).sum)

    tracer.foreach { tr =>
      tr.drain()
      tr.ops.foreach(o => emit(o.toFields: _*))
      // cleaned-table substrate, rebuilt outside every timed region
      Transactions.invalidate(spark)
      val b0 = System.nanoTime()
      val rowsOut = Transactions.cleaned(spark, dir).count()
      val buildS = (System.nanoTime() - b0) / 1e9
      val rowsIn = Transactions.raw(spark, dir).count()
      emit("kind" -> "cleaned", "build_s" -> buildS, "rows_in" -> rowsIn, "rows_out" -> rowsOut)
    }
    out.close()
    spark.stop()
  }

  /** Bytes this process has passed to write(2) so far (Linux). */
  def wchar(): Long =
    try Source.fromFile("/proc/self/io").getLines()
      .collectFirst { case l if l.startsWith("wchar:") => l.drop(6).trim.toLong }.getOrElse(0L)
    catch { case _: Throwable => 0L }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** Order-independent fingerprint of a query result: the row count plus
  * the sum (mod 2^64) of a 64-bit digest of each row. Columns are taken
  * in name order and values are written in an engine-neutral canonical
  * form, so the same rows give the same fingerprint from Spark and from
  * the DuckDB oracle (whose results `run.py --record` passes in as
  * parquet files). */
object Fingerprint {
  private val Digits = new MathContext(6, RoundingMode.HALF_EVEN)

  def num(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0"
    else if (b.scale <= 0 || b.stripTrailingZeros.scale <= 0) b.toBigInteger.toString
    else b.round(Digits).stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigInteger => n.toString
    case n: BigInt => n.toString
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => num(b)
    case b: BigDecimal => num(b.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq).getOrElse(r.toSeq.indices.map(_.toString))
      names.zipWithIndex.sortBy(_._1).map { case (n, i) => n + "=" + canon(r.get(i)) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sortBy(_._1)
        .map { case (k, x) => k + "=" + x }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else num(new java.math.BigDecimal(d))

  private def digest64(s: String): BigInt = {
    val h = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    BigInt(1, h.take(8))
  }

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val mod = BigInt(1) << 64
    val sum = rows.foldLeft(BigInt(0)) { (acc, r) =>
      (acc + digest64(order.map(i => canon(r.get(i))).mkString("\u001f"))) % mod
    }
    val cols = digest64(order.map(columns).mkString("\u001f"))
    f"${rows.length}:${sum.toString(16)}:${cols.toString(16)}"
  }
}

/** Per-op counters from Spark's public listener interfaces. Every event
  * is attributed to the op whose wall window contains its timestamp (ops
  * run one at a time, so windows never overlap). */
final class Tracer {
  final case class Op(pass: Int, name: String, start: Long, end: Long) {
    var jobs, tasks = 0
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var runMs, cpuNs, gcMs, scanB, shWriteB, shReadB, spillB = 0L
    var stageMaxMs, stageMeanMs = 0.0
    var planMs = 0L
    var cachedScan = false
    var batches = 0
    var addBatchMs, walCommitMs, stateRows = 0L
    /** Wall time covered by at least one running job (union of spans). */
    def busyMs: Long = jobSpans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
    }._1

    def toFields: Seq[(String, Any)] = Seq("kind" -> "trace", "pass" -> pass, "name" -> name,
      "jobs" -> jobs, "tasks" -> tasks, "job_busy_ms" -> busyMs, "run_ms" -> runMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "scan_b" -> scanB, "shuffle_write_b" -> shWriteB,
      "shuffle_read_b" -> shReadB, "spill_b" -> spillB, "stage_max_ms" -> stageMaxMs,
      "stage_mean_ms" -> stageMeanMs, "plan_ms" -> planMs, "cached_scan" -> cachedScan,
      "batches" -> batches, "add_batch_ms" -> addBatchMs, "wal_commit_ms" -> walCommitMs,
      "state_rows" -> stateRows)
  }

  private val lock = new Object
  val ops = mutable.ArrayBuffer.empty[Op]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val pending = mutable.ArrayBuffer.empty[(Long, Op => Unit)]
  @volatile private var lastEvent = System.currentTimeMillis()
  @volatile private var openJobs = 0

  def opWindow(pass: Int, name: String, start: Long, end: Long): Unit = lock.synchronized {
    ops += Op(pass, name, start, end)
  }

  /** Queue `f` for the op covering time `t`; applied in event order at
    * [[drain]], once every op window is known. */
  private def at(t: Long)(f: Op => Unit): Unit = lock.synchronized {
    lastEvent = System.currentTimeMillis()
    pending += ((t, f))
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lock.synchronized {
        openJobs += 1
        jobStart(e.jobId) = e.time
      }
      at(e.time)(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = lock.synchronized { openJobs -= 1; jobStart.getOrElse(e.jobId, e.time) }
      at(st)(_.jobSpans += ((st, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = e.taskInfo.launchTime
        at(t) { o =>
          o.tasks += 1
          o.runMs += m.executorRunTime
          o.cpuNs += m.executorCpuTime
          o.gcMs += m.jvmGCTime
          o.scanB += m.inputMetrics.bytesRead
          o.shWriteB += m.shuffleWriteMetrics.bytesWritten
          o.shReadB += m.shuffleReadMetrics.totalBytesRead
          o.spillB += m.diskBytesSpilled
          stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      at(info.submissionTime.getOrElse(lastEvent)) { o =>
        stageTasks.remove((info.stageId, info.attemptNumber())).filter(_.size >= 2).foreach { ts =>
          o.stageMaxMs += ts.max.toDouble
          o.stageMeanMs += ts.sum.toDouble / ts.size
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val start = phases.map(_.startTimeMs).min
        val ms = phases.map(p => p.endTimeMs - p.startTimeMs).sum
        val cached = try qe.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation])
          catch { case _: Throwable => false }
        at(start) { o => o.planMs += ms; o.cachedScan ||= cached }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      at(t) { o =>
        o.batches += 1
        o.addBatchMs += d.get("addBatch").map(_.longValue).getOrElse(0L)
        o.walCommitMs += d.get("walCommit").map(_.longValue).getOrElse(0L)
        o.stateRows = math.max(o.stateRows, rows)
      }
    }
  }

  /** Wait until every started job has ended and the listener bus has
    * been quiet for a moment, then attribute every queued event. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    while (System.currentTimeMillis() < deadline &&
      (openJobs > 0 || System.currentTimeMillis() - lastEvent < 500L)) Thread.sleep(50L)
    lock.synchronized {
      pending.foreach { case (t, f) => ops.find(o => t >= o.start && t <= o.end).foreach(f) }
      pending.clear()
    }
  }
}

object Tracer {
  @volatile var current: Tracer = _

  /** Query-execution and streaming listeners are registered through the
    * session confs, so that every session the engine derives (the
    * streaming twins run on cloned sessions) reports to the tracer. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[QueryTap].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamTap].getName)
}

class QueryTap extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Tracer.current).foreach(_.queryListener.onSuccess(funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(Tracer.current).foreach(_.queryListener.onFailure(funcName, qe, exception))
}

class StreamTap extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Tracer.current).foreach(_.streamListener.onQueryProgress(e))
}

/** Minimal JSON writer for the flat records the harness emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
