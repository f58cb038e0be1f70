package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps

/** Crash safety of the persisted IVF index: every state a build can
  * leave before its commit markers, and every fingerprint that is not
  * exactly the corpus md5, is rebuilt by the next build-if-absent
  * instead of being served. */
class IndexMaintenanceSpec extends SparkSpec {

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
    // a fingerprint that is not exactly the corpus md5 is stale: a
    // torn (0-byte) write, and a leftover line after the md5
    Seq("", s"$expected\nbatches:3").foreach { torn =>
      Files.writeString(fp, torn)
      assert(SimilarityOps.ivfIndexPath(spark.newSession(), dir) === base)
      assert(Files.readString(fp) === expected, s"served an index fingerprinted '$torn'")
    }
  }

  test("the flat-PQ index rebuilds on a fingerprint or layout that is not exactly its own") {
    // same freshness contract as the IVF index: _corpus_fingerprint and
    // _pq_layout are each compared whole, so a missing, torn or
    // leftover-line fingerprint, or another layout version, rebuilds
    val tmp = tempDir("graft_pqflat_stale").toAbsolutePath
    copyCorpus(sfDir, "embeddings", tmp, col("vec_id") < 400)
    val dir = tmp.toString
    val base = SimilarityOps.pqFlatIndexPath(spark, dir)
    val fp = Paths.get(base, "_corpus_fingerprint")
    val layout = Paths.get(base, "_pq_layout")
    val expected = Files.readString(fp)
    val version = Files.readString(layout)
    Seq("", s"$expected\nbatches:3").foreach { torn =>
      Files.writeString(fp, torn)
      assert(SimilarityOps.pqFlatIndexPath(spark.newSession(), dir) === base)
      assert(Files.readString(fp) === expected, s"served a flat-PQ index fingerprinted '$torn'")
    }
    Files.writeString(layout, s"$version-old")
    assert(SimilarityOps.pqFlatIndexPath(spark.newSession(), dir) === base)
    assert(Files.readString(layout) === version, "served a flat-PQ index of another layout")
    assert(Files.exists(Paths.get(base, "pqcodes", "_SUCCESS")))
  }
}
