package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.ops.{BucketedTables, SimilarityOps}

/** Crash safety of the persisted vector indexes, end to end: for the
  * IVF index, its IVF-PQ layer and the flat-PQ index, a crash between
  * the parts and the manifest (the manifest deleted) is rebuilt by the
  * next session instead of being served, and the rebuild is
  * bit-identical. Every other stale state is covered once, over a
  * trivial writer, by PersistedIndexSpec; the band index by
  * BandIndexSpec. */
class IndexMaintenanceSpec extends SparkSpec {

  /** Jobs a first-touch IVF build of the 400-vector corpus runs, by
    * call site: the registered footer count 2, the corpus count 3, the
    * codebook write with its Lloyd rounds 5, the codebook read back 1,
    * its count for the size route 2, the lists write 2. */
  private val IvfBuildJobs = 15

  /** A 400-vector copy of the fixture's embeddings. */
  private def smallCorpus(name: String): String = {
    val tmp = tempDir(name).toAbsolutePath
    spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 400)
      .coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("embeddings.parquet").toString)
    tmp.toString
  }

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  /** Delete `base`'s manifest, leave a sentinel beside it, and check that
    * `resolve` (in a fresh session) rebuilds: same base, the sentinel
    * gone with the old files, a new manifest, and `parts` unchanged. */
  private def rebuildsWithoutManifest(base: String, parts: Seq[String])(resolve: => String): Unit = {
    val before = parts.map(p => rows(s"$base/$p"))
    val manifest = Paths.get(base, BucketedTables.Manifest)
    val sentinel = Paths.get(base, "_sentinel")
    Files.delete(manifest)
    Files.writeString(sentinel, "")
    assert(resolve === base)
    assert(!Files.exists(sentinel), s"an index with no manifest was served: $base")
    assert(Files.exists(manifest))
    assert(parts.map(p => rows(s"$base/$p")) === before, "the rebuild is not bit-identical")
  }

  test("the IVF index rebuilds, bit-identical, after a crash before its manifest") {
    val dir = smallCorpus("graft_ivf_crash")
    val base = SimilarityOps.ivfIndexPath(spark, dir)
    rebuildsWithoutManifest(base, Seq("codebook", "lists")) {
      SimilarityOps.ivfIndexPath(spark.newSession(), dir)
    }
  }

  test("a first-touch IVF build counts its corpus once, within its job budget") {
    // the build counts its corpus once; a recount in k-means or in the
    // size-routed assignment adds jobs
    val dir = smallCorpus("graft_ivf_jobs")
    val t0 = System.currentTimeMillis()
    // each job by its call site: its SQL execution's, since AQE submits
    // stage jobs from pool threads
    val sites = new java.util.concurrent.ConcurrentHashMap[String, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.time >= t0) jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(sites.get(id))).getOrElse("?"))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SimilarityOps.ivfIndexPath(spark, dir)
      // listener delivery is async: wait for the count to go quiet
      var last = -1
      val deadline = System.currentTimeMillis() + 10000
      while (last != jobs.size && System.currentTimeMillis() < deadline) {
        last = jobs.size
        Thread.sleep(500)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.size <= IvfBuildJobs,
      s"${jobs.size} jobs, by call site: ${jobs.toArray.groupBy(identity).map { case (s, n) => s"$s ×${n.length}" }.mkString(", ")}")
  }

  test("the IVF-PQ layer rebuilds after a crash before its manifest, over the same IVF base") {
    val dir = smallCorpus("graft_ivfpq_crash")
    val pq = SimilarityOps.ivfPqIndexPath(spark, dir)
    val base: Path = Paths.get(SimilarityOps.ivfIndexPath(spark, dir))
    assert(Paths.get(pq).getParent === base, "the PQ layer does not live under its IVF base")
    val baseSentinel = base.resolve("_sentinel")
    Files.writeString(baseSentinel, "")
    rebuildsWithoutManifest(pq, Seq("pqcodebook", "pqcodes")) {
      SimilarityOps.ivfPqIndexPath(spark.newSession(), dir)
    }
    assert(Files.exists(baseSentinel), "the IVF base was rebuilt for its PQ layer")
  }

  test("the flat-PQ index rebuilds, bit-identical, after a crash before its manifest") {
    val dir = smallCorpus("graft_pqflat_crash")
    val base = SimilarityOps.pqFlatIndexPath(spark, dir)
    rebuildsWithoutManifest(base, Seq("pqcodebook", "pqcodes")) {
      SimilarityOps.pqFlatIndexPath(spark.newSession(), dir)
    }
  }
}
