package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev probe: times fresh constructions+materializations of named
  * SparkEntry queries and breaks each one's wall down per JOB. Each
  * rep calls the query function again, the timing mode graft.Bench
  * uses: a plan built once and re-run leaves construction-time work
  * (eager localCheckpoint materializations) outside the timed region,
  * which is how a 0.5 s reading once hid an 8.5 s suite cost (the
  * round-10 pHash lesson). The queries run in the order given on one
  * session, so substrates built by earlier queries show in the later
  * ones' walls and cached-RDD counts.
  *
  * Per rep it prints the wall and the session's cached-RDD count, then
  * one row per job: construction-time actions (localCheckpoint, count)
  * vs the final noop sink, AQE stage jobs and broadcast builds, and
  * the wall that sits BETWEEN jobs (driver-side planning, codegen,
  * analysis). Stage shuffle totals ride the job rows so an
  * exchange-bound job is distinguishable from a compute-bound one.
  *
  * usage: runMain graft.tools.JobProfileProbe <sfDir> <q1[,q2,...]> [reps]
  */
object JobProfileProbe {
  private val Usage = "usage: runMain graft.tools.JobProfileProbe <sfDir> <q1[,q2,...]> [reps]"

  /** The query names of a `q1[,q2,...]` list, in the order given,
    * repeats kept. Every name is checked against [[graft.SparkEntry.queries]]
    * before a session starts, so a misspelt name fails at once rather
    * than after the queries ahead of it have run. */
  def queryList(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"no query named in '$list'")
    val unknown = names.filterNot(graft.SparkEntry.queries.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val sfDir = args(0)
    val names =
      try queryList(args(1))
      catch { case e: IllegalArgumentException =>
        System.err.println(s"${e.getMessage}\n$Usage")
        sys.exit(2)
      }
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.local()
    case class Job(id: Int, start: Long, end: Long, desc: String,
                   var shufRead: Long = 0L, var shufWrite: Long = 0L,
                   var tasks: Int = 0, var taskTimeMs: Long = 0L)
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
    val sqlSites = scala.collection.concurrent.TrieMap.empty[Long, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlSites(s.executionId) = s.description
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // unlabelled jobs carry their call site, e.g. `collect at X.scala:N`:
        // their SQL execution's (AQE submits stage jobs from pool threads,
        // whose own call site is the pool), else their result stage's name
        val props = Option(js.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val d = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id").flatMap(id => sqlSites.get(id.toLong)))
          .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
        starts(js.jobId) = (js.time, d)
        js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, d) =>
          val j = jobs.getOrElseUpdate(je.jobId, Job(je.jobId, t0, je.time, d))
          jobs(je.jobId) = j.copy(start = t0, end = je.time, desc = d,
            shufRead = j.shufRead, shufWrite = j.shufWrite,
            tasks = j.tasks, taskTimeMs = j.taskTimeMs)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageToJob.get(sc.stageInfo.stageId).foreach { jid =>
          val j = jobs.getOrElseUpdate(jid, Job(jid, 0L, 0L, ""))
          j.shufRead += sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shufWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          j.tasks += sc.stageInfo.numTasks
          j.taskTimeMs += sc.stageInfo.taskMetrics.executorRunTime
        }
    })
    for (name <- names; i <- 1 to reps) {
      jobs.clear(); starts.clear(); stageToJob.clear()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val cached = spark.sparkContext.getPersistentRDDs.size
      Thread.sleep(500) // listener-bus drain
      val rows = jobs.values.toSeq.sortBy(_.start)
      println(f"[jobprofile] $name rep $i wall $wall%.2f s, cachedRDDs $cached, ${rows.size} jobs, " +
        f"job-covered ${rows.map(j => (j.end - j.start) / 1000.0).sum}%.2f s")
      var prevEnd = w0
      rows.foreach { j =>
        val gap = (j.start - prevEnd) / 1000.0
        prevEnd = math.max(prevEnd, j.end)
        println(f"[jobprofile]   job ${j.id}%4d ${(j.end - j.start) / 1000.0}%7.2f s " +
          f"(gap ${gap}%5.2f) tasks ${j.tasks}%4d taskTime ${j.taskTimeMs / 1000.0}%7.2f s " +
          f"shufR ${j.shufRead / 1e6}%8.1f MB shufW ${j.shufWrite / 1e6}%8.1f MB  ${j.desc.take(60)}")
      }
    }
    spark.stop()
  }
}
