package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Load, Tables}

/** Z-ordered layout: correctness (the write is a pure reordering) and
  * the clustering property it exists for — per-file min/max footer
  * stats bound EVERY z-dimension, so a multi-dimensional box predicate
  * touches few files, where a single-column-sorted layout bounds only
  * its sort column and a box predicate on the other dimension must
  * touch all of them. */
class LayoutSpec extends SparkSpec {

  test("zorder_long interleaves bits (kernel truth table)") {
    import spark.implicits._
    // n=2: bit b of dim j lands at 2b+j
    val got = Seq((1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L))
      .toDF("a", "b")
      .selectExpr("zorder_long(array(a, b)) AS z")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L, 15L, 6L))
    // dims beyond the first two interleave too (n=3: bit b of dim j at 3b+j)
    val three = Seq((1L, 1L, 1L)).toDF("a", "b", "c")
      .selectExpr("zorder_long(array(a, b, c)) AS z")
      .head().getLong(0)
    assert(three === 7L)
    // null element = origin for that dim
    val withNull = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .selectExpr("zorder_long(array(a, b)) AS z")
      .head().getLong(0)
    assert(withNull === 1L)
  }

  /** Per-file (min, max) envelopes of `c` in the parquet dir. */
  private def envelopes(dir: String, c: String): Map[String, (Long, Long)] =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
      .collect()
      .map(r => (r.getString(0), (r.getAs[Number]("mn").longValue(),
        r.getAs[Number]("mx").longValue())))
      .toMap

  private def intersecting(env: Map[String, (Long, Long)], lo: Long, hi: Long): Set[String] =
    env.collect { case (f, (mn, mx)) if mx >= lo && mn <= hi => f }.toSet

  test("z-ordered layout bounds both dims per file; linear sort bounds only its own") {
    val src = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val n = 16
    val zDir = Files.createTempDirectory("graft_zorder").toString
    val linDir = Files.createTempDirectory("graft_linear").toString
    Load.writeZOrdered(src, Seq("l_partkey", "l_suppkey"), zDir, n)
    // the comparison layout: same file count, sorted on partkey alone
    src.repartitionByRange(n, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(linDir)

    // pure reordering: same multiset of rows
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(canon(spark.read.parquet(zDir)) === canon(src))

    // box predicate: the middle ~10% of each dimension's range
    val Seq(pLo, pHi, sLo, sHi) = {
      val r = src.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val (pMin, pMax) = (r.getLong(0), r.getLong(1))
      val (sMin, sMax) = (r.getLong(2), r.getLong(3))
      def mid(lo: Long, hi: Long) = {
        val w = hi - lo
        (lo + (w * 45) / 100, lo + (w * 55) / 100)
      }
      val (a, b) = mid(pMin, pMax); val (c, d) = mid(sMin, sMax)
      Seq(a, b, c, d)
    }
    val zPart = envelopes(zDir, "l_partkey")
    val zSupp = envelopes(zDir, "l_suppkey")
    val linSupp = envelopes(linDir, "l_suppkey")
    assert(zPart.size >= n / 2, s"expected ~$n z files, got ${zPart.size}")

    // files any stats-skipping reader must touch for the 2-dim box
    val zBox = intersecting(zPart, pLo, pHi) & intersecting(zSupp, sLo, sHi)
    // the partkey-sorted layout: suppkey envelopes are unconstrained,
    // so (nearly) every file intersects the suppkey slice
    val linBox = intersecting(linSupp, sLo, sHi)
    assert(linBox.size >= (linSupp.size * 3) / 4,
      s"linear layout should leave suppkey unbounded: ${linBox.size}/${linSupp.size}")
    assert(zBox.size * 2 <= zPart.size,
      s"z-order should prune >= half the files for the box: ${zBox.size}/${zPart.size}")

    // and the pruning is real end-to-end: the filtered read returns
    // the same rows from both layouts
    def boxRows(dir: String) = spark.read.parquet(dir)
      .filter(col("l_partkey").between(pLo, pHi) && col("l_suppkey").between(sLo, sHi))
      .count()
    assert(boxRows(zDir) === boxRows(linDir))
  }

  test("zorder_long and writeZOrdered fail loudly on degenerate inputs") {
    import spark.implicits._
    // empty array: defined as the curve origin, not a crash
    assert(Seq(1).toDF("x")
      .selectExpr("zorder_long(cast(array() as array<bigint>))")
      .head().getLong(0) === 0L)
    // 64+ dims would silently yield bits = 0 → every row z = 0
    val tooMany = (1 to 64).map(_ => "x").mkString("zorder_long(array(", ", ", "))")
    val e = intercept[Exception] {
      Seq(1L).toDF("x").selectExpr(tooMany).collect()
    }
    assert(e.getMessage != null)
    // an all-NaN dim must not silently collapse to a constant
    val nan = Seq((1L, Double.NaN), (2L, Double.NaN)).toDF("a", "b")
    val dir = Files.createTempDirectory("graft_zorder_nan").toString
    val e2 = intercept[IllegalArgumentException] {
      Load.writeZOrdered(nan, Seq("a", "b"), dir, 2)
    }
    assert(e2.getMessage.contains("non-finite"), e2.getMessage)
  }

  test("writeZOrdered with caller-supplied bounds skips the stats pass and still clusters") {
    val src = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
    val r = src.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val bounds = Map(
      "l_partkey" -> (r.getLong(0).toDouble, r.getLong(1).toDouble),
      "l_suppkey" -> (r.getLong(2).toDouble, r.getLong(3).toDouble))
    val dir = Files.createTempDirectory("graft_zorder_b").toString
    Load.writeZOrdered(src, Seq("l_partkey", "l_suppkey"), dir, 8, bounds)
    assert(spark.read.parquet(dir).count() === src.count())
    val env = envelopes(dir, "l_suppkey")
    // clustering held: files do not all span the full suppkey range
    val full = env.values.count { case (mn, mx) =>
      mn == r.getLong(2) && mx == r.getLong(3) }
    assert(full * 2 < env.size, s"$full/${env.size} files span the full range")
  }
}
