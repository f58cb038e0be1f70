package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.ops.{BucketedTables, DedupOps, SimilarityOps}

/** Incremental maintenance of the persisted indexes: appends are
  * partition/bucket-local, skew triggers a recluster, and the
  * maintained index answers probes identically to one built from
  * scratch over the same content. */
class IndexMaintenanceSpec extends SparkSpec {

  /** (partition-dir name → sorted file names) for a partitionBy layout. */
  private def partitionFiles(root: String): Map[String, Seq[String]] = {
    val l = Files.list(Paths.get(root))
    try l.iterator().asScala.filter(Files.isDirectory(_)).map { d =>
      val fl = Files.list(d)
      val fs =
        try fl.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
        finally fl.close()
      d.getFileName.toString -> fs
    }.toMap
    finally l.close()
  }

  private def copyCorpus(src: String, table: String, dst: Path,
                         filter: org.apache.spark.sql.Column): Unit =
    spark.read.parquet(s"$src/$table.parquet").filter(filter)
      .coalesce(1).write.mode("overwrite")
      .parquet(dst.resolve(s"$table.parquet").toString)

  test("half-built IVF index states (crash before a commit marker) rebuild instead of being served") {
    // r16 verdict #5 (closed r18): the index build paths write their
    // commit markers LAST (lists/_SUCCESS, then _corpus_fingerprint;
    // pq layers then _pq_layout), so every pre-marker crash state
    // must be DETECTED by the next session's build-if-absent and
    // rebuilt, never probed. Simulate the two coarse-index windows by
    // deleting the marker a crash would have left unwritten.
    val tmp = tempDir("graft_ivf_crash").toAbsolutePath
    copyCorpus(sfDir, "embeddings", tmp, col("vec_id") < 400)
    val dir = tmp.toString
    val base = SimilarityOps.ivfIndexPath(spark, dir)
    val fp = Paths.get(base, "_corpus_fingerprint")
    val expected = Files.readString(fp)
    // window 1: codebook+lists committed, crash before the fingerprint
    Files.delete(fp)
    val s2 = spark.newSession()
    assert(SimilarityOps.ivfIndexPath(s2, dir) === base)
    assert(Files.readString(fp) === expected) // rebuilt + re-fingerprinted
    // window 2: crash mid lists write (no job commit marker)
    Files.delete(Paths.get(base, "lists", "_SUCCESS"))
    val s3 = spark.newSession()
    assert(SimilarityOps.ivfIndexPath(s3, dir) === base)
    assert(Files.exists(Paths.get(base, "lists", "_SUCCESS")))
    assert(Files.readString(fp) === expected)
  }

  test("ivfAppend touches only routed list partitions; recluster equals a from-scratch build") {
    val tmpA = tempDir("graft_ivf_app_a").toAbsolutePath
    val tmpB = tempDir("graft_ivf_app_b").toAbsolutePath
    copyCorpus(sfDir, "embeddings", tmpA, col("vec_id") < 400)
    copyCorpus(sfDir, "embeddings", tmpB, lit(true))

    val baseA = SimilarityOps.buildIvfIndex(spark, tmpA.toString)
    // force the lazy PQ layer so the append has to maintain it too
    SimilarityOps.ivfPqIndexPath(spark, tmpA.toString)
    val before = partitionFiles(s"$baseA/lists")

    // a SMALL first batch so its route is a strict subset of the lists
    // (a 100-vector batch covers all 16) — partition-locality is
    // asserted against this one; skew recluster disabled to pin the
    // append-only layout
    val batch1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") >= 400 && col("vec_id") < 410)
      .select(col("vec_id"), col("embedding"))
    val routed = SimilarityOps.ivfAppend(spark, tmpA.toString, batch1,
      skewFactor = Double.MaxValue)
    assert(routed.nonEmpty && routed.length < SimilarityOps.DefaultNCentroids,
      s"append routed to ${routed.length} of all lists — nothing to assert pruning against")

    val after = partitionFiles(s"$baseA/lists")
    val routedDirs = routed.map(c => s"Cid=$c").toSet
    before.foreach { case (dir, files) =>
      if (!routedDirs.contains(dir))
        assert(after(dir) == files, s"non-routed partition $dir changed: $files -> ${after(dir)}")
      else {
        assert(files.toSet.subsetOf(after(dir).toSet),
          s"routed partition $dir lost pre-append files")
        assert(after(dir).size > files.size, s"routed partition $dir gained no files")
      }
    }

    // second batch: the rest of the arrivals (multi-batch append path)
    SimilarityOps.ivfAppend(spark, tmpA.toString,
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") >= 410).select(col("vec_id"), col("embedding")),
      skewFactor = Double.MaxValue)

    // appended rows land in lists AND pqcodes (both probe-visible)
    assert(spark.read.parquet(s"$baseA/lists").count() === 500L)
    assert(spark.read.parquet(s"$baseA/pqcodes").count() === 500L)
    val ivfpq = SimilarityOps.ivfpqTopk(spark, tmpA.toString).collect().toSeq
    val flat = SimilarityOps.ivfTopk(spark, tmpA.toString).collect().toSeq
    assert(ivfpq == flat, "PQ layer out of sync with the appended lists")

    // the batches line is recorded alongside the surviving corpus line
    val fp = Files.readString(Paths.get(baseA, "_corpus_fingerprint"))
    assert(fp.linesIterator.toSeq.exists(_.startsWith("batches:")))

    // recluster re-learns the codebook from corpus+appends; the result
    // must be identical to an index built from a corpus that contained
    // all 500 vectors from the start (same deterministic k-means over
    // the same rows)
    SimilarityOps.reclusterIvfIndex(spark, tmpA.toString)
    SimilarityOps.buildIvfIndex(spark, tmpB.toString)
    val a = SimilarityOps.ivfTopk(spark, tmpA.toString).collect().toSeq
    val b = SimilarityOps.ivfTopk(spark, tmpB.toString).collect().toSeq
    assert(a == b, "probe after append+recluster differs from a from-scratch build")
  }

  test("PQ layer built lazily AFTER appends covers the appended vectors") {
    // the ordering the first implementation got wrong: append while no
    // PQ layer exists, then let ivfpqTopk build it lazily — the codes
    // must come from the LISTS (corpus + appends), not the corpus table
    val tmp = tempDir("graft_ivfpq_late").toAbsolutePath
    copyCorpus(sfDir, "embeddings", tmp, col("vec_id") < 400)
    SimilarityOps.buildIvfIndex(spark, tmp.toString)
    val arrivals = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") >= 400).select(col("vec_id"), col("embedding"))
    SimilarityOps.ivfAppend(spark, tmp.toString, arrivals,
      skewFactor = Double.MaxValue)
    val base = SimilarityOps.ivfPqIndexPath(spark, tmp.toString)
    assert(spark.read.parquet(s"$base/pqcodes").count() === 500L,
      "lazily built PQ codes dropped appended vectors")
    val ivfpq = SimilarityOps.ivfpqTopk(spark, tmp.toString).collect().toSeq
    val flat = SimilarityOps.ivfTopk(spark, tmp.toString).collect().toSeq
    assert(ivfpq == flat, "post-append lazy PQ build misses appended neighbors")
  }

  test("ivfAppend triggers a recluster when a list blows past the skew threshold") {
    val tmp = tempDir("graft_ivf_skew").toAbsolutePath
    copyCorpus(sfDir, "embeddings", tmp, col("vec_id") < 400)
    val base = SimilarityOps.buildIvfIndex(spark, tmp.toString)
    val before = partitionFiles(s"$base/lists")

    // plant a pathological batch: 300 copies of one corpus vector, all
    // routed to a single list — max list ≈ 320 vs mean ≈ 44
    val one = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
    import spark.implicits._
    val skewed = (10000L until 10300L).map(i => (i, one)).toDF("vec_id", "embedding")
    SimilarityOps.ivfAppend(spark, tmp.toString, skewed, skewCheckEvery = 1)

    // a recluster rewrites every list file: no pre-append file survives
    val after = partitionFiles(s"$base/lists")
    val (bf, af) = (before.values.flatten.toSet, after.values.flatten.toSet)
    assert(bf.intersect(af).isEmpty,
      s"skewed append did not recluster: ${bf.intersect(af).size} pre-append files survive")
    assert(spark.read.parquet(s"$base/lists").count() === 700L)
  }

  test("bandAppend keeps existing files, lands through the bucket spec, and matches a full build") {
    val tmpA = tempDir("graft_band_app_a").toAbsolutePath
    val tmpB = tempDir("graft_band_app_b").toAbsolutePath
    // corpus split on doc_id; arrivals-by-convention (doc_id % 10 == 9)
    // are excluded from BOTH indexes by corpusBandIndex itself
    copyCorpus(sfDir, "documents", tmpA, col("doc_id") < 400)
    copyCorpus(sfDir, "documents", tmpB, lit(true))

    val nameA = DedupOps.bandIndexTable(spark, tmpA.toString)
    val locA = BucketedTables.location(spark, nameA)
    def files(): Set[String] = {
      val l = Files.list(locA)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally l.close()
    }
    val before = files()

    // append the corpus-eligible docs tmpB has beyond tmpA
    val newDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") >= 400 &&
        !(col("doc_id") % DedupOps.NewArrivalMod === DedupOps.NewArrivalRemainder))
    DedupOps.bandAppend(spark, tmpA.toString, newDocs)

    val after = files()
    assert(before.subsetOf(after), "append rewrote or removed existing bucket files")
    assert(after.size > before.size, "append added no files")

    // the maintained index holds exactly the rows of a from-scratch
    // build over the full corpus
    val nameB = DedupOps.bandIndexTable(spark, tmpB.toString)
    def rows(name: String) = spark.table(name)
      .select(col("CorpusId"), col("band_id"), col("band_val"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(rows(nameA) === rows(nameB))

    // and answers the incremental probe identically: tmpA's arrivals
    // are exactly tmpB's arrivals below 400, against the SAME corpus
    def pairs(dir: String) = DedupOps.incremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(tmpA.toString) === pairs(tmpB.toString).filter(_._1 < 400L))

    // compaction rewrites to one file generation, preserving content
    // and the appended-batch count
    val batches = BucketedTables.appendedBatches(locA.resolve("_corpus_fingerprint"))
    assert(batches === 1)
    val pre = rows(nameA)
    DedupOps.compactBandIndex(spark, tmpA.toString)
    assert(rows(nameA) === pre, "compaction changed the index content")
    assert(BucketedTables.appendedBatches(locA.resolve("_corpus_fingerprint")) === batches,
      "compaction lost the appended-batch count")
    assert(files().size < after.size, "compaction did not reduce the file count")
  }
}
