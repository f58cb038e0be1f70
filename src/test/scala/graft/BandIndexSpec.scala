package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.ops.DedupOps

/** The persisted corpus band index: written once `bucketBy(band_id,
  * band_val)`, probed by every ingest batch. The write-once half of
  * ingestion-time dedup — at 100 TB the corpus side must never
  * re-shuffle per batch, only the (small) arriving batch moves. */
class BandIndexSpec extends SparkSpec {

  test("incremental dedup probes the bucketed index with NO exchange on the corpus side") {
    DedupOps.bandIndexTable(spark, sfDir) // build-if-absent
    // AQE off: exchanges are inserted by EnsureRequirements, which only
    // runs for the executed plan — the pre-AQE static plan shows none
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val plan = DedupOps.incremental(spark, sfDir).queryExecution.executedPlan
      val bandJoin = plan.collectFirst {
        case j: SortMergeJoinExec if j.leftKeys.exists(_.toString.contains("band_val")) => j
      }
      assert(bandJoin.isDefined, s"no sort-merge band join found:\n$plan")
      def bucketScans(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f }
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case e: ShuffleExchangeExec => e }
      val (corpusSide, batchSide) =
        if (bucketScans(bandJoin.get.left).nonEmpty) (bandJoin.get.left, bandJoin.get.right)
        else (bandJoin.get.right, bandJoin.get.left)
      assert(bucketScans(corpusSide).nonEmpty,
        s"neither join side reads the bucketed index:\n$plan")
      assert(shuffles(corpusSide).isEmpty,
        s"corpus side re-shuffles despite the bucketed layout:\n$corpusSide")
      assert(shuffles(batchSide).nonEmpty,
        s"expected the arriving batch to shuffle into the bucket layout:\n$batchSide")
    }
  }

  test("a stale on-disk index from a previous session is rebuilt, a fresh one re-registered") {
    import java.nio.file.{Files, Path}
    import org.apache.spark.sql.catalyst.TableIdentifier
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    def writeDocs(dir: String, texts: Seq[(Long, String)]): Unit =
      texts.map { case (id, t) => (id, t, "en", "fix", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).iterator().asScala.toSeq.sorted.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    def tableType(name: String) =
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(name)).tableType.name
    val dir = tempDir("graft-bandidx").toString
    // corpus id 9 is the "new arrival"; 1 and 2 are corpus
    writeDocs(dir, Seq((1L, "alpha beta gamma delta"), (2L, "unrelated words here now"),
      (9L, "alpha beta gamma delta")))
    val name = DedupOps.bandIndexTable(spark, dir)
    assert(tableType(name) === "MANAGED")
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    // simulate a NEW session that inherits only the files: stash them,
    // invalidate (drops table + files + memo), restore the stash
    val stash = tempDir("graft-bandidx-stash")
    copyTree(loc, stash)
    Substrates.invalidate(spark, dir)
    copyTree(stash, Files.createDirectories(loc))
    // the manifest matches the corpus → re-registered as EXTERNAL, no rebuild
    assert(DedupOps.bandIndexTable(spark, dir) === name)
    assert(tableType(name) === "EXTERNAL")
    // a crash between the table's files and its manifest (the manifest
    // missing) is rebuilt MANAGED, never adopted
    Substrates.invalidate(spark, dir)
    copyTree(stash, Files.createDirectories(loc))
    Files.delete(loc.resolve(graft.ops.BucketedTables.Manifest))
    assert(DedupOps.bandIndexTable(spark, dir) === name)
    assert(tableType(name) === "MANAGED", "an index with no manifest was adopted instead of rebuilt")
    assert(Files.readString(loc.resolve(graft.ops.BucketedTables.Manifest)) ===
      Files.readString(stash.resolve(graft.ops.BucketedTables.Manifest)))
    // corpus changes on disk → manifest mismatch → REBUILT (managed),
    // and the matches reflect the NEW corpus, not the stale index
    Substrates.invalidate(spark, dir) // simulate session end: table+files+memos gone
    copyTree(stash, Files.createDirectories(loc)) // ...but the old session's files remain
    writeDocs(dir, Seq((1L, "totally different content words"), (2L, "unrelated words here now"),
      (9L, "alpha beta gamma delta")))
    assert(DedupOps.bandIndexTable(spark, dir) === name)
    assert(tableType(name) === "MANAGED", "stale index was adopted instead of rebuilt")
    val matches = DedupOps.incremental(spark, dir).collect()
    assert(matches.isEmpty, s"stale-index matches leaked: ${matches.mkString(",")}")
  }

  test("a sibling session sharing the catalog rebuilds a stale index instead of adopting it") {
    import java.nio.file.Files
    import spark.implicits._
    def writeDocs(dir: String, texts: Seq[(Long, String)]): Unit =
      texts.map { case (id, t) => (id, t, "en", "fix", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dir = tempDir("graft-bandidx-sib").toString
    // doc 9 (arrival) duplicates doc 1 (corpus) → one match
    writeDocs(dir, Seq((1L, "alpha beta gamma delta"), (2L, "unrelated words here now"),
      (9L, "alpha beta gamma delta")))
    val name = DedupOps.bandIndexTable(spark, dir)
    assert(DedupOps.incremental(spark, dir).collect().nonEmpty)
    // corpus refreshed on disk, NO invalidation: the catalog still
    // holds the old table. A sibling session (shared catalog, its own
    // memo — exactly what two concurrent jobs on one metastore look
    // like) must hit the catalog, see the stale manifest, and
    // rebuild; adopting the hit would resurrect doc 1's old shingles.
    writeDocs(dir, Seq((1L, "totally different content words"), (2L, "unrelated words here now"),
      (9L, "alpha beta gamma delta")))
    val sibling = spark.newSession()
    assert(sibling.catalog.tableExists(name), "sibling does not share the catalog")
    assert(DedupOps.bandIndexTable(sibling, dir) === name)
    val matches = DedupOps.incremental(sibling, dir).collect()
    assert(matches.isEmpty, s"stale catalog hit was adopted: ${matches.mkString(",")}")
    Substrates.invalidate(sibling, dir)
    Substrates.invalidate(spark, dir)
  }

  test("invalidation drops the persisted index; the next query rebuilds it") {
    val name = DedupOps.bandIndexTable(spark, sfDir)
    assert(spark.catalog.tableExists(name))
    Substrates.invalidate(spark, sfDir)
    // stale index against a refreshed corpus = silently wrong matches;
    // it must go with the session caches
    assert(!spark.catalog.tableExists(name), "stale band index survived invalidation")
    val rows = DedupOps.incremental(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(spark.catalog.tableExists(name), "query did not rebuild the index")
  }
}
