package graft

import org.apache.spark.sql.functions._

import graft.etl.Transactions
import graft.ops.RelationalOps

/** Numeric error-bound checks for the sketch aggregates — the tighter
  * companions to the TRUE-boolean contract the DuckDB oracle asserts on
  * `sketch_approx_stats` (see RelationalOps.approxSketchStats scaladoc).
  */
class SketchSpec extends SparkSpec {

  test("sketch_approx_stats: every error-bound boolean is true") {
    val rows = RelationalOps.approxSketchStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    Seq("CustomersSketchOk", "OrdersSketchOk", "P50SketchOk", "P90SketchOk")
      .foreach { c =>
        assert(rows.forall(_.getAs[Boolean](c)), s"$c not uniformly true")
      }
  }

  test("HLL++ relative error <= 3x the configured rsd (0.02) per country") {
    val rows = Transactions.cleaned(spark, sfDir)
      .filter(!col("IsCancelled"))
      .groupBy(col("Country"))
      .agg(
        countDistinct(col("CustomerID")).as("ec"),
        approx_count_distinct(col("CustomerID"), 0.02).as("ac"),
        countDistinct(col("InvoiceNo")).as("eo"),
        approx_count_distinct(col("InvoiceNo"), 0.02).as("ao"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      def check(exact: Long, approx: Long, what: String): Unit =
        assert(math.abs(approx - exact) <= exact * 0.06,
          s"$what HLL drift: exact=$exact approx=$approx in ${r.getString(0)}")
      check(r.getAs[Long]("ec"), r.getAs[Long]("ac"), "customers")
      check(r.getAs[Long]("eo"), r.getAs[Long]("ao"), "orders")
    }
  }

  test("percentile_approx value sits within ±0.1 rank of the target quantile") {
    val rows = Transactions.cleaned(spark, sfDir)
      .filter(!col("IsCancelled"))
      .groupBy(col("Country"))
      .agg(
        percentile_approx(col("TotalAmount"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("TotalAmount"), lit(0.9), lit(1000)).as("p90"),
        sort_array(collect_list(col("TotalAmount"))).as("vals"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vals = r.getSeq[Double](r.fieldIndex("vals"))
      val n = vals.size.toDouble
      def rankOk(v: Double, q: Double, what: String): Unit = {
        val hi = vals.count(_ <= v) / n // largest rank v could occupy
        val lo = vals.count(_ < v) / n  // smallest rank v could occupy
        assert(lo <= q + 0.1 + 1e-9 && hi >= q - 0.1 - 1e-9,
          s"$what rank [$lo,$hi] outside ${q}±0.1 in ${r.getString(0)}")
      }
      rankOk(r.getAs[Double]("p50"), 0.5, "p50")
      rankOk(r.getAs[Double]("p90"), 0.9, "p90")
    }
  }

  test("misra_gries: MG guarantees hold under compaction and arbitrary merge order") {
    val sales = Transactions.cleaned(spark, sfDir)
      .filter(!col("IsCancelled"))
      .select(col("Country"))
    val exact = sales.groupBy(col("Country")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val k = 4 // far below the ~25 distinct countries: forces compaction
    // two different partitionings must both satisfy the bounds
    Seq(sales.repartition(13), sales.repartition(3)).foreach { src =>
      val sk = src.agg(expr(s"misra_gries(Country, $k)").as("Sk"))
        .select(explode(col("Sk")).as("e"))
        .select(col("e.item"), col("e.est")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sk.size <= k, s"summary exceeded capacity: ${sk.size} > $k")
      val err = n / (k + 1)
      sk.foreach { case (item, est) =>
        val t = exact(item)
        assert(est <= t, s"$item overestimated: $est > $t")
        assert(est >= t - err, s"$item undershot the MG bound: $est < $t - $err")
      }
      exact.filter(_._2 > err).keys.foreach { hot =>
        assert(sk.contains(hot), s"guaranteed heavy item $hot missing from summary")
      }
    }
  }

  test("sketch_heavy_hitters: identical to the exact heavy-hitter set, sketch-candidate confirm plan") {
    val got = RelationalOps.heavyHitters(spark, sfDir)
    val rows = got.collect()
    assert(rows.nonEmpty, "no heavy hitters at the 3% threshold — threshold miscalibrated")
    val sales = Transactions.cleaned(spark, sfDir)
      .filter(!col("IsCancelled")).select(col("Country"))
    val n = sales.count()
    val expect = sales.groupBy(col("Country")).count()
      .filter(col("count") * 100 >= lit(RelationalOps.HhPhiPct) * n)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows.map(r => r.getString(0) -> r.getAs[Long]("Cnt")).toMap === expect)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("Share") -
        r.getAs[Long]("Cnt").toDouble / n) < 1e-12)
    }
    // descending-count order with the Country tiebreak
    val cnts = rows.map(_.getAs[Long]("Cnt")).toSeq
    assert(cnts === cnts.sorted.reverse, "not ordered by count desc")
    // the confirm pass aggregates candidates only: broadcast join present
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      "MG summary should run in ObjectHashAggregateExec")
  }

  test("kmv_kmin: keeps exactly the k smallest distinct values under any partitioning") {
    import spark.implicits._
    // values with planted duplicates — the sketch must dedup
    val vals = (1L to 5000L).map(i => (i * 2654435761L) % 100000L)
    val expect = vals.distinct.sorted.take(64)
    Seq(1, 7, 32).foreach { parts =>
      val got = vals.toDF("V").repartition(parts)
        .agg(expr("kmv_kmin(V, 64)").as("Ks"))
        .head().getAs[scala.collection.Seq[Long]](0)
      assert(got.toSeq === expect, s"bottom-64 mismatch at $parts partitions")
    }
  }

  test("sketch_kmv_distinct: estimate within the declared bound, small-corpus branch exact") {
    val r = RelationalOps.kmvDistinct(spark, sfDir).head()
    val exact = r.getAs[Long]("ExactDistinct")
    val est = r.getAs[Double]("KmvEstimate")
    assert(r.getAs[Boolean]("ErrOk"))
    if (exact < RelationalOps.KmvK) {
      // fewer distinct keys than capacity: the sketch IS exact
      assert(r.isNullAt(r.fieldIndex("KthHash")))
      assert(est === exact.toDouble)
    } else {
      assert(math.abs(est - exact) <= 0.25 * exact)
      assert(!r.isNullAt(r.fieldIndex("KthHash")))
    }
  }

  test("sample_bottomk: deterministic, hash-ordered, consistent under corpus growth") {
    val rows = RelationalOps.sampleBottomK(spark, sfDir).collect()
    assert(rows.length === RelationalOps.SampleK)
    val hashes = rows.map(_.getAs[String]("Hash"))
    assert(hashes.toSeq === hashes.sorted.toSeq)
    assert(hashes.distinct.length === hashes.length)
    // reproducible: second run returns the identical sample
    val again = RelationalOps.sampleBottomK(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // growth consistency: the bottom-k of a SUBSET of the corpus is a
    // superset-compatible prefix — every doc sampled from the full
    // corpus that survives in the subset's hash range stays sampled
    val subset = graft.etl.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("Hash"))
      .orderBy(col("Hash")).limit(RelationalOps.SampleK).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val fullEven = rows.map(_.getAs[Long]("doc_id")).filter(_ % 2 == 0).toSet
    assert(fullEven.subsetOf(subset),
      "a doc sampled from the full corpus vanished from the subset sample")
    // plan shape: bottom-k must be TakeOrderedAndProject, not a global sort
    val plan = RelationalOps.sampleBottomK(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("bloom kernel: zero false negatives, bounded false positives") {
    val bits = new Array[Long](1 << (19 - 6))
    val keys = (0L until 20000L).map(i => i * 2654435761L + 17)
    keys.foreach(graft.functions.ExprKernels.bloomSet(bits, _))
    val bytes = new Array[Byte](bits.length * 8)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().put(bits)
    keys.foreach { k =>
      assert(graft.functions.ExprKernels.bloomContains(bytes, k),
        s"false negative for inserted key $k")
    }
    val probes = (1L to 20000L).map(i => -i * 40503L - 7)
    val fp = probes.count(graft.functions.ExprKernels.bloomContains(bytes, _))
    assert(fp < probes.size * 0.02,
      s"false-positive rate too high: $fp / ${probes.size}")
  }

  test("join_bloom_pruned: identical to the plain semi join, filter below the shuffle") {
    val got = RelationalOps.bloomPrunedJoin(spark, sfDir)
    val rows = got.collect()
    assert(rows.nonEmpty)
    val plain = {
      val dimKeys = graft.etl.Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      graft.etl.Tables.lineitem(spark, sfDir)
        .join(dimKeys, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag").as("ReturnFlag"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec))
            .cast("double").as("Revenue"),
          count(lit(1)).as("Lines"),
          sum(col("l_quantity").cast("long")).as("Qty"))
        .orderBy(col("ReturnFlag")).collect()
    }
    assert(rows.map(_.toSeq).toSeq === plain.map(_.toSeq).toSeq,
      "bloom pruning changed results vs the plain semi join")
    // plan shape: the bloom_contains filter must sit BELOW the semi
    // join (fact side pre-filtered before its exchange)
    val plan = got.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    val joinAt = plan.indexOf("LeftSemi")
    val filterAt = plan.indexOf("bloom_contains")
    assert(joinAt >= 0, s"expected a left-semi join:\n$plan")
    assert(filterAt > joinAt,
      s"bloom_contains filter not below the semi join in the plan tree:\n$plan")
  }

  test("topk_edges: bit-identical to the row_number window it replaces, ties included") {
    import spark.implicits._
    // deterministic synthetic scores with PLANTED ties: score has only
    // 17 distinct values over 400 (group, id) rows, so most groups
    // exercise the id-ascending tie-break; a few groups have fewer
    // than k candidates (short-array path)
    val k = 5
    val rows = for {
      g <- 1L to 20L
      i <- 1L to (if (g % 7 == 0) 3L else 20L)
    } yield (g, i, ((i * 31 + g * 17) % 17).toDouble / 16.0)
    val df = rows.toDF("G", "Id", "Score").repartition(8)
    val viaAgg = df.groupBy(col("G"))
      .agg(expr(s"topk_edges(Id, Score, $k)").as("TK"))
      .select(col("G"), posexplode(col("TK")).as(Seq("R0", "E")))
      .select(col("G"), col("E.NId").as("Id"), col("E.Cosine").as("Score"),
        (col("R0") + 1).as("Rank"))
      .orderBy(col("G"), col("Rank")).collect().map(_.toSeq)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("G")).orderBy(col("Score").desc, col("Id"))
    val viaWindow = df.withColumn("Rank", row_number().over(w))
      .filter(col("Rank") <= k)
      .select(col("G"), col("Id"), col("Score"), col("Rank"))
      .orderBy(col("G"), col("Rank")).collect().map(_.toSeq)
    assert(viaAgg.toSeq === viaWindow.toSeq,
      "topk_edges diverged from the window ranking")
  }

  test("topk_edges: signed zeros rank as ONE value; NaN is dropped on every path") {
    import spark.implicits._
    // -0.0 vs 0.0: Spark's sort normalizes float zeros, so the window
    // form ranks them purely by the id tie-break — a raw Double.compare
    // TreeSet order would put 0.0 ahead of -0.0 and break bit-identity
    // (r12 advice). Both zeros in the SAME group, both inside top-k.
    val zeros = Seq((1L, 10L, 0.0), (1L, 2L, -0.0), (1L, 5L, 1.0),
      (1L, 7L, -0.0), (1L, 3L, 0.0)).toDF("G", "Id", "Score").repartition(4)
    def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.groupBy(col("G"))
        .agg(expr(s"topk_edges(Id, Score, $k)").as("TK"))
        .select(col("G"), posexplode(col("TK")).as(Seq("R0", "E")))
        .select(col("G"), col("E.NId"), (col("R0") + 1).as("Rank"))
        .orderBy(col("G"), col("Rank")).collect().map(_.toSeq)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("G")).orderBy(col("Score").desc, col("Id"))
    def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.withColumn("Rank", row_number().over(w)).filter(col("Rank") <= k)
        .select(col("G"), col("Id"), col("Rank"))
        .orderBy(col("G"), col("Rank")).collect().map(_.toSeq)
    assert(viaAgg(zeros, 4).toSeq === viaWindow(zeros, 4).toSeq,
      "signed zeros ranked differently from the window form")
    // NaN: dropped whether the buffer is under capacity (k larger than
    // the group) or full (k = 1) — never partition-order-dependent
    val nans = Seq((1L, 1L, Double.NaN), (1L, 2L, 0.5), (1L, 3L, Double.NaN),
      (2L, 1L, Double.NaN)).toDF("G", "Id", "Score").repartition(3)
    Seq(1, 10).foreach { k =>
      val got = viaAgg(nans, k)
      assert(got.toSeq === Seq(Seq(1L, 2L, 1)),
        s"NaN scores leaked into the top-k at k=$k: $got")
    }
  }

  test("kmv source overlap: order statistics and both estimator paths against hand-computed values") {
    import spark.implicits._
    val k = RelationalOps.KmvK // 256
    // estimator path: planted value sets with known order statistics.
    // a = {1..300}, b = {201..500}: union 1..500 (≥ k) → U = 1..256,
    // θ = 256, matched = |{201..256}| = 56; exact overlap = 100
    val ab = (1L to 300L).map(("a", _)) ++ (201L to 500L).map(("b", _))
    // exact path: union 90 < k → sketch IS the set, estimate exact.
    // c = {1..50}, d = {31..90}: matched = exact = 20
    val cd = (1L to 50L).map(("c", _)) ++ (31L to 90L).map(("d", _))
    val hs = (ab ++ cd).toDF("source", "V")
    val rows = graft.ops.TextOps.kmvOverlapPairs(hs).collect()
      .map(r => (r.getAs[String]("SA"), r.getAs[String]("SB")) -> r).toMap
    val pow48 = 281474976710656.0
    val est = rows(("a", "b"))
    assert(est.getAs[Long]("ExactOverlap") === 100L)
    assert(est.getAs[Double]("EstUnion") ===
      (k - 1).toDouble * pow48 / 256.0, "θ should be the planted 256")
    assert(est.getAs[Double]("EstOverlap") ===
      56.0 * ((k - 1).toDouble * pow48 / k) / 256.0,
      "matched among the union bottom-k should be the planted 56")
    val exacts = rows(("c", "d"))
    assert(exacts.getAs[Long]("ExactOverlap") === 20L)
    assert(exacts.getAs[Double]("EstOverlap") === 20.0,
      "a union smaller than k must be reported exactly")
    assert(exacts.getAs[Boolean]("ErrOk"))
    // the planted values 1..500 are adversarially NON-uniform (real
    // inputs are md5 prefixes): θ = 256 out of 2⁴⁸ inflates EstUnion
    // to ~2.8e14 while the exact overlap is 100 — outside the
    // estimator's model, and the certificate must SAY so
    assert(!est.getAs[Boolean]("ErrOk"),
      "ErrOk must flag a non-uniform-hash input, not bless it")
  }

  test("kmv source overlap: all 190 corpus pairs inside the estimator's own CI") {
    val rows = graft.ops.TextOps.sourceOverlapKmv(spark, sfDir).collect()
    assert(rows.length === 190, s"20 sources → 190 pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("NShA") > 0 && r.getAs[Long]("NShB") > 0)
      assert(r.getAs[Boolean]("ErrOk"),
        s"estimate outside its CI: $r")
    }
  }

  test("kmv source difference: hand-computed order statistics, exact three-way split, both branches") {
    import spark.implicits._
    val k = RelationalOps.KmvK // 256
    val pow48 = 281474976710656.0
    val dUnion = (k - 1).toDouble * pow48
    val cInter = dUnion / k
    // same planted sets as the overlap spec: a = {1..300}, b =
    // {201..500} (union ≥ k → the θ branch), c = {1..50}, d =
    // {31..90} (union < k → the sketch IS the set)
    val ab = (1L to 300L).map(("a", _)) ++ (201L to 500L).map(("b", _))
    val cd = (1L to 50L).map(("c", _)) ++ (31L to 90L).map(("d", _))
    val rows = graft.ops.TextOps.kmvDifferencePairs((ab ++ cd).toDF("source", "V"))
      .collect().map(r => (r.getAs[String]("SA"), r.getAs[String]("SB")) -> r).toMap
    val est = rows(("a", "b"))
    // U = {1..256}: InA = 256, InB = matched = 56
    assert(est.getAs[Double]("EstAOnly") === 200.0 * cInter / 256.0)
    assert(est.getAs[Double]("EstBOnly") === 0.0)
    assert(est.getAs[Long]("ExactAOnly") === 200L)
    assert(est.getAs[Long]("ExactBOnly") === 200L)
    // own-sketch cardinalities: a's kth = 256, b's kth = 456
    assert(est.getAs[Double]("EstA") === dUnion / 256.0)
    assert(est.getAs[Double]("EstB") === dUnion / 456.0)
    // ContainAB = EstOverlap/EstA = matched/k — exact in doubles (all
    // powers of two and small integers)
    assert(est.getAs[Double]("ContainAB") === 56.0 / 256.0)
    // the three-way split of the union's bottom-k is exhaustive:
    // EstAOnly + EstBOnly + EstOverlap == EstUnion, exactly
    assert(est.getAs[Double]("EstAOnly") + est.getAs[Double]("EstBOnly")
      + 56.0 * cInter / 256.0 === dUnion / 256.0)
    val exacts = rows(("c", "d"))
    assert(exacts.getAs[Double]("EstAOnly") === 30.0)
    assert(exacts.getAs[Double]("EstBOnly") === 40.0)
    assert(exacts.getAs[Long]("ExactAOnly") === 30L)
    assert(exacts.getAs[Long]("ExactBOnly") === 40L)
    assert(exacts.getAs[Double]("EstA") === 50.0)
    assert(exacts.getAs[Double]("ContainAB") === 20.0 / 50.0)
    assert(exacts.getAs[Boolean]("ErrOkA") && exacts.getAs[Boolean]("ErrOkB"),
      "sub-k branch is exact — its own certificate must pass")
  }

  test("kmv source difference: corpus pairs carry certified directional estimates") {
    val rows = graft.ops.TextOps.sourceDifferenceKmv(spark, sfDir).collect()
    assert(rows.length === 190, s"20 sources → 190 pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("ExactAOnly") >= 0L && r.getAs[Long]("ExactBOnly") >= 0L)
      assert(r.getAs[Boolean]("ErrOkA") && r.getAs[Boolean]("ErrOkB"),
        s"difference estimate outside its CI: $r")
      // a containment ESTIMATE can drift past 1.0 under sketch noise
      // (M·A_kth/(k·Kth) with A_kth ≥ Kth) — sanity-bound, don't pin
      val (cab, cba) = (r.getAs[Double]("ContainAB"), r.getAs[Double]("ContainBA"))
      assert(cab >= 0.0 && cab <= 1.5 && cba >= 0.0 && cba <= 1.5,
        s"containment grossly out of range: $r")
    }
  }

  test("label_argmax: plurality vote with lowest-label ties, exact under any partitioning") {
    import spark.implicits._
    // votes per group: g0 → label 7×3, 2×3 (tie → 2), g1 → 5×2, 9×1
    // (count wins → 5), g2 → single vote, g3 → nulls only → null row
    // absent from groupBy input; null VOTES are skipped
    val rows = Seq(
      (0L, 7L), (0L, 7L), (0L, 7L), (0L, 2L), (0L, 2L), (0L, 2L),
      (1L, 5L), (1L, 5L), (1L, 9L),
      (2L, 42L))
    val df = rows.toDF("G", "Lbl")
    // repartition WIDE so partial buffers genuinely merge across tasks
    val got = df.repartition(8)
      .groupBy($"G").agg(expr("label_argmax(Lbl)").as("W"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 2L, 1L -> 5L, 2L -> 42L))
    // null votes are skipped, not counted: 2×3 vs 7×2 + nulls
    val withNulls = (Seq.fill(3)((0L, Some(2L))) ++ Seq.fill(2)((0L, Some(7L)))
      ++ Seq.fill(4)((0L, Option.empty[Long])))
      .toDF("G", "Lbl").repartition(5)
      .groupBy($"G").agg(expr("label_argmax(Lbl)").as("W")).collect()
    assert(withNulls.map(r => r.getLong(1)).toSeq === Seq(2L))
    // type guard: the vote is declared over BIGINT labels only
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a", "b")).toDF("G", "Lbl")
        .groupBy($"G").agg(expr("label_argmax(Lbl)")).collect()
    }
    assert(e.getMessage.contains("label_argmax"))
  }

  test("label_argmax: exact vote through the ObjectHashAggregate sort-based fallback (hub key)") {
    // r16 verdict #3 / r17 #8: the engine raises the OHA fallback
    // threshold session-wide, but a group-count spike can still push
    // the aggregate onto the sort-based fallback path — the vote must
    // be exact THERE too (fallback sorts partial buffers and merges
    // them in sorted-key order, a different merge order and a full
    // serialize/deserialize round-trip per buffer). Force it with a
    // threshold of 2 and 10k groups, and give group 0 a contested
    // hub vote whose ballots span every input partition.
    import spark.implicits._
    withConfs("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2") {
      val hub = Seq.fill(600)(7L) ++ Seq.fill(600)(3L) ++ Seq.fill(100)(9L)
      val rows = hub.map(l => (0L, l)) ++
        (1L until 10000L).map(g => (g, g % 5))
      val df = rows.toDF("G", "Lbl").repartition(8)
        .groupBy($"G").agg(expr("label_argmax(Lbl)").as("W"))
      // the plan must actually be the OHA operator for the fallback
      // path to exist at all
      assert(df.queryExecution.executedPlan.toString
        .contains("ObjectHashAggregate"), df.queryExecution.executedPlan)
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size === 10000)
      assert(got(0L) === 3L) // 600-600 tie between 7 and 3 → lowest label
      assert(got(1L) === 1L)
      assert(got(9999L) === 9999L % 5)
    }
  }
}
