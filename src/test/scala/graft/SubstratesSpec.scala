package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.etl.{Pipeline, Transactions}
import graft.ops.{DedupOps, GraphOps, SimilarityOps, TextOps}

/** The substrate registry's contract: one build per key under
  * concurrent first touch, release of exactly one (session, dir), and
  * eviction of stopped sessions. */
class SubstratesSpec extends SparkSpec {

  private def cachedRdds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("concurrent first touches of one key build once and share the instance") {
    val dir = Files.createTempDirectory("graft_substrates_race_").toString
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
    val dirB = Files.createTempDirectory("graft_substrates_b_").toString
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
    GraftSession.registerAll(sibling)
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

  test("an entry of a stopped session is gone on the next lookup") {
    // stops the suite's session: this test runs last, and suites after
    // it in the same JVM get a fresh session from GraftSession.local
    val dir = Files.createTempDirectory("graft_substrates_stop_").toString
    Substrates[AnyRef](spark, dir, "spec.value")(_ => ())(new Object)
    val stopped = spark
    assert(Substrates.keys.exists(_.spark eq stopped))
    stopped.stop()
    val fresh = GraftSession.local(defaultCpus = 4)
    Substrates[AnyRef](fresh, dir, "spec.value")(_ => ())(new Object)
    assert(!Substrates.keys.exists(_.spark eq stopped))
    Substrates.invalidate(fresh, dir)
  }
}
