package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.etl.{Pipeline, Transactions}
import graft.ops.{DedupOps, GraphOps, SimilarityOps, TextOps}

/** The substrate registry's contract: one build per key under
  * concurrent first touch, release of exactly one (session, dir),
  * eviction of stopped sessions, and no block left once every dir is
  * invalidated and the results are dropped. */
class SubstratesSpec extends SparkSpec {

  private def cachedRdds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("concurrent first touches of one key build once and share the instance") {
    val dir = tempDir("graft_substrates_race_").toString
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            Substrates[AnyRef](spark, dir, "spec.value")(_ => ()) {
              builds.incrementAndGet()
              Thread.sleep(200)
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = got.map(_.get())
      assert(builds.get === 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdown()
    Substrates.invalidate(spark, dir)
  }

  test("invalidate(spark, dir) releases that dir's cached blocks and nothing of another dir or session") {
    val dirA = sfDir
    Substrates.invalidate(spark, dirA) // start from no dirA entry
    val dirB = tempDir("graft_substrates_b_").toString
    spark.range(50)
      .select(col("id").as("doc_id"),
        concat(lit("body of document "), col("id")).as("text"),
        lit("en").as("lang"), lit("web").as("source"),
        (length(col("id").cast("string")) + 17L).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dirB/documents.parquet")
    def newRdds(materialize: => Unit): Set[Int] = {
      val before = cachedRdds()
      materialize
      cachedRdds() -- before
    }
    val postingsB = TextOps.docPostings(spark, dirB)
    val idsB = newRdds(postingsB.count())
    assert(idsB.nonEmpty)
    val sibling = spark.newSession()
    val statsSibling = TextOps.docStats(sibling, dirA)

    val built = Seq(
      "cleaned" -> newRdds(Transactions.cleaned(spark, dirA).count()),
      "customer_summary" -> newRdds(Pipeline.transform(spark, dirA)("customer_summary").count()),
      "docBands" -> newRdds(DedupOps.sharedShingles(spark, dirA).count()),
      "quantized" -> newRdds(SimilarityOps.topk(spark, dirA).count()),
      "coPurchaseEdges" -> newRdds(GraphOps.coPurchaseEdges(spark, dirA).count()),
      "docPostings" -> newRdds(TextOps.docPostings(spark, dirA).count()))
    built.foreach { case (name, ids) => assert(ids.nonEmpty, s"$name cached no block") }

    Substrates.invalidate(spark, dirA)
    val left = cachedRdds()
    built.foreach { case (name, ids) =>
      assert((ids intersect left).isEmpty, s"$name kept blocks after invalidation")
    }
    assert(idsB.subsetOf(left), "dirB blocks were released")
    assert(TextOps.docPostings(spark, dirB) eq postingsB, "dirB entry was released")
    assert(TextOps.docStats(sibling, dirA) eq statsSibling, "sibling session's entry was released")
  }

  test("each collect of local carries its caller's call site, not the registry's") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.add(s.description)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Substrates.local(spark.range(3).toDF(), spark.range(5).toDF())
      // listener delivery is async: wait for the count to go quiet
      eventually(timeout(30.seconds)) { assert(sites.size >= 2) }
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = sites.toArray.toSeq.map(_.toString)
    assert(seen.forall(_.contains("SubstratesSpec.scala")), s"call sites: ${seen.mkString(", ")}")
    assert(Seq("frame 1 of 2", "frame 2 of 2").forall(f => seen.exists(_.contains(f))),
      s"call sites: ${seen.mkString(", ")}")
    assert(spark.sparkContext.getLocalProperty("callSite.short") === null,
      "the calling thread kept the call site")
  }

  test("an entry of a stopped session is gone on the next lookup") {
    // stops the suite's session: this test runs last, and suites after
    // it in the same JVM get a fresh session from GraftSession.local
    val dir = tempDir("graft_substrates_stop_").toString
    Substrates[AnyRef](spark, dir, "spec.value")(_ => ())(new Object)
    val stopped = spark
    assert(Substrates.keys.exists(_.spark eq stopped))
    stopped.stop()
    val fresh = GraftSession.local(defaultCpus = 4)
    Substrates[AnyRef](fresh, dir, "spec.value")(_ => ())(new Object)
    assert(!Substrates.keys.exists(_.spark eq stopped))
    Substrates.invalidate(fresh, dir)
  }

  test("after invalidate and GC, the board and every query with a changed pin hold no block") {
    // runs after the stopped-session test, on the fresh context it
    // left, so the storage checked holds only what these queries pinned
    val s = GraftSession.local(defaultCpus = 4)
    assert(s.sparkContext.getRDDStorageInfo.isEmpty, "expected a fresh context")
    val board = Seq("transactions", "country_summary", "join_semi_cancelled_customers",
      "dim_scd2_customers", "setop_churned_customers", "agg_incremental_daily",
      "dedup_minhash_bands", "curate_token_budget", "similarity_ivf_topk",
      "retrieval_query_likelihood", "graph_label_propagation", "events_hourly",
      "events_hourly_stream", "text_drift_chisq", "text_drift_chisq_stream")
    val changed = Seq("timeseries_theilsen", "similarity_mmr_topk", "retrieval_eval",
      "dedup_report", "multimodal_ahash_neardup", "multimodal_phash_neardup",
      "multimodal_audio_fingerprint", "similarity_knn_graph", "similarity_knn_graph_ivf",
      "basket_pair_lift")
    (board ++ changed).foreach { q =>
      SparkEntry.queries(q)(s, sfDir).write.format("noop").mode("overwrite").save()
    }
    assert(s.sparkContext.getRDDStorageInfo.nonEmpty, "the queries pinned nothing")
    val dirs = Substrates.keys.filter(_.spark eq s).map(_.dir).distinct
    assert(dirs.contains(sfDir))
    dirs.foreach(Substrates.invalidate(s, _))
    // the loop cuts the results read go when nothing references them
    eventually(timeout(30.seconds), interval(1.second)) {
      System.gc()
      val left = s.sparkContext.getRDDStorageInfo
      assert(left.isEmpty, s"blocks still held: ${left.map(r => s"${r.id}:${r.name}").mkString(", ")}")
    }
  }
}
