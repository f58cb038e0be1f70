package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ops.SimilarityOps

/** Dir-level invalidation of the corpus row-count memos (r15 — the
  * r14 advice gap): appending to a corpus dir must be observable, via
  * ONE entry point, by both the documents spread width and the
  * embeddings count that sizes the similarity family's exchanges. */
class CorpusMemoSpec extends SparkSpec {

  test("dir invalidation refreshes the documents spread width and the embeddings count after an append") {
    val dir = Files.createTempDirectory("graft_memo_").toString
    // 100 docs → ceil(100/160) = 1 partition at local[4]
    val doc = (n: Long) => spark.range(n)
      .select(col("id").as("doc_id"),
        concat(lit("body of document "), col("id")).as("text"),
        lit("en").as("lang"), lit("web").as("source"),
        (length(col("id").cast("string")) + 17L).as("n_chars"))
    doc(100L).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = (from: Long, n: Long) => spark.range(from, from + n)
      .select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(1.0f)).as("embedding"),
        lit(0).as("label"))
    emb(0L, 100L).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    assert(Tables.documentsSpread(spark, dir).rdd.getNumPartitions === 1)
    assert(SimilarityOps.embeddingsCount(spark, dir) === 100L)

    // append 900 more rows to each table IN PLACE
    doc(900L).withColumn("doc_id", col("doc_id") + 1000L)
      .write.mode("append").parquet(s"$dir/documents.parquet")
    emb(1000L, 900L).write.mode("append").parquet(s"$dir/embeddings.parquet")

    // the memos are deliberately sticky — stale until invalidated
    // (this is the failure mode the entry point exists to close)
    assert(Tables.documentsSpread(spark, dir).rdd.getNumPartitions === 1)
    assert(SimilarityOps.embeddingsCount(spark, dir) === 100L)

    Substrates.invalidate(spark, dir)

    // 1000 docs → min(defaultParallelism = 4, ceil(1000/160) = 7) = 4
    assert(Tables.documentsSpread(spark, dir).rdd.getNumPartitions === 4)
    assert(SimilarityOps.embeddingsCount(spark, dir) === 1000L)
  }

  test("dir invalidation refreshes the co-purchase graph memos after an external fact append") {
    // r16 verdict #6 (closed r18): the graph family's cached memos
    // (edges/degrees/oriented) are keyed on (session, dir) over the
    // fact table. An append issued THROUGH this session's writer is
    // self-healing (InsertIntoHadoopFsRelationCommand recaches every
    // cached plan reading the output path — verified while writing
    // this test), so the seam that actually goes stale is an
    // EXTERNAL append: another driver/process landing files in the
    // corpus dir. Simulate that with a file-level copy, assert the
    // memos are sticky (they must be — the cached listing pins the
    // old file set), then assert the ONE corpus-refresh entry point
    // makes the doubled node universe visible.
    val dir = Files.createTempDirectory("graft_memo_graph_").toString
    val src = Tables.lineitem(spark, sfDir)
    src.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def nNodes(): Long = graft.ops.GraphOps.degreeStats(spark, dir)
      .head().getAs[Long]("NNodes")
    val before = nNodes()
    assert(before > 0)
    // stage the id-shifted copy elsewhere, then land its data files by
    // FILE MOVE — no Spark write touches the corpus dir, exactly like
    // a foreign process appending
    val shift = 10000000L
    val stage = Files.createTempDirectory("graft_memo_stage_")
    src
      .withColumn("l_orderkey",
        (col("l_orderkey") + shift).cast(src.schema("l_orderkey").dataType))
      .withColumn("l_partkey",
        (col("l_partkey") + shift).cast(src.schema("l_partkey").dataType))
      .write.mode("overwrite").parquet(stage.toString)
    import scala.jdk.CollectionConverters._
    val listing = Files.list(stage)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { f =>
        Files.move(f, java.nio.file.Paths.get(
          s"$dir/lineitem.parquet", f.getFileName.toString))
      }
    finally listing.close()
    // the memos are deliberately sticky — stale until invalidated
    assert(nNodes() === before)
    Substrates.invalidate(spark, dir)
    assert(nNodes() === before * 2)
  }

  test("dir invalidation refreshes the text family's corpus memos after an external documents append") {
    // postings, doc stats, the n-gram LMs, langid and BPE are all keyed
    // on (session, dir) over documents; land new documents by FILE
    // MOVE (a same-session write would recache and hide staleness)
    val dir = Files.createTempDirectory("graft_memo_text_").toString
    val doc = (from: Long, n: Long) => spark.range(from, from + n)
      .select(col("id").as("doc_id"),
        concat(lit("body of document "), col("id")).as("text"),
        lit("en").as("lang"), lit("web").as("source"),
        (length(col("id").cast("string")) + 17L).as("n_chars"))
    doc(0L, 100L).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def docIds(): Set[Long] = graft.ops.TextOps.docPostings(spark, dir)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(docIds() === (0L until 100L).toSet)
    val stage = Files.createTempDirectory("graft_memo_text_stage_")
    doc(1000L, 50L).write.mode("overwrite").parquet(stage.toString)
    import scala.jdk.CollectionConverters._
    val listing = Files.list(stage)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { f =>
        Files.move(f, java.nio.file.Paths.get(
          s"$dir/documents.parquet", f.getFileName.toString))
      }
    finally listing.close()
    // the memos are deliberately sticky — stale until invalidated
    assert(docIds() === (0L until 100L).toSet)
    Substrates.invalidate(spark, dir)
    assert(docIds() === ((0L until 100L) ++ (1000L until 1050L)).toSet)
  }
}
