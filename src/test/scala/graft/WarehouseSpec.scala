package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.etl.{Scd, Summaries, Tables, Transactions}
import graft.ops.RelationalOps

/** Round-8 warehouse-surface tests: EWMA determinism, SCD2 kernel
  * semantics (incl. the no-op contract), and the DQ suite on both the
  * clean testdata and a PLANTED dirty mini-star. */
class WarehouseSpec extends SparkSpec {

  test("ewma: equals a driver recomputation with the identical left-assoc double arithmetic") {
    val rows = Summaries.ewmaDaily(Transactions.cleaned(spark, sfDir)).collect()
    assert(rows.length > 30)
    val rev = rows.map(_.getAs[Double]("Revenue"))
    def wk(k: Int): Double = 1.0 / (1L << k)
    rows.zipWithIndex.foreach { case (r, i) =>
      var s = rev(i)
      var w = 1.0
      (1 until Summaries.EwmaLags).foreach { k =>
        s = s + (if (i - k >= 0) rev(i - k) * wk(k) else 0.0 * wk(k))
        w = w + (if (i - k >= 0) wk(k) else 0.0)
      }
      assert(r.getAs[Double]("Ewma") === s / w, s"row $i ewma not bit-identical")
    }
    // EWMA tracks the series: stays within the trailing-window envelope
    rows.zipWithIndex.drop(Summaries.EwmaLags).foreach { case (r, i) =>
      val win = (0 until Summaries.EwmaLags).map(k => rev(i - k))
      val e = r.getAs[Double]("Ewma")
      assert(e >= win.min - 1e-9 && e <= win.max + 1e-9)
    }
  }

  test("scd2: two-batch gate query versions exactly the planted keys; chains adjacent, one current row per key") {
    val rows = Scd.scd2Customers(spark, sfDir).collect()
    val keys = rows.map(_.getAs[Long]("CustKey")).distinct
    val nCust = Tables.customer(spark, sfDir).count()
    val n1 = keys.count(_ % 7 == 3).toLong
    val n2 = keys.count(_ % 6 == 2).toLong
    assert(keys.length.toLong === nCust)
    assert(rows.length.toLong === nCust + n1 + n2)
    rows.groupBy(_.getAs[Long]("CustKey")).foreach { case (k, rs) =>
      val in1 = k % 7 == 3
      val in2 = k % 6 == 2
      val expectVersions = 1 + (if (in1) 1 else 0) + (if (in2) 1 else 0)
      assert(rs.length === expectVersions, s"key $k version count")
      assert(rs.count(_.getAs[Boolean]("IsCurrent")) === 1, s"key $k current rows")
      val chain = rs.sortBy(_.getAs[Int]("Version"))
      assert(chain.map(_.getAs[Int]("Version")).toSeq === (1 to chain.length),
        s"key $k versions not contiguous")
      // the chain must be date-adjacent and only the last row open
      chain.sliding(2).foreach {
        case Array(prev, next) =>
          assert(prev.getAs[java.sql.Date]("ValidTo") ===
            next.getAs[java.sql.Date]("ValidFrom"), s"key $k chain not adjacent")
        case _ => ()
      }
      assert(chain.last.isNullAt(chain.last.fieldIndex("ValidTo")), s"key $k open row")
      assert(chain.last.getAs[Boolean]("IsCurrent"), s"key $k last row current")
      // the final segment value reflects whichever batch last touched it
      val expectFinal =
        if (in2) s"SEG${k % 4}B" else if (in1) s"SEG${k % 5}" else null
      if (expectFinal != null)
        assert(chain.last.getAs[String]("Segment") === expectFinal, s"key $k final segment")
      if (in1) {
        val v2 = chain(1)
        assert(v2.getAs[String]("Segment") === s"SEG${k % 5}", s"key $k batch-1 segment")
        assert(v2.getAs[java.sql.Date]("ValidFrom").toString === Scd.ChangeDate)
      }
      if (in2)
        assert(chain.last.getAs[java.sql.Date]("ValidFrom").toString === Scd.ChangeDate2)
    }
  }

  test("scd2: a no-op change batch (same values) produces zero new versions") {
    import spark.implicits._
    val dim = Seq(
      (1L, "A", 1, "2020-01-01", null.asInstanceOf[String], true),
      (2L, "B", 1, "2020-01-01", null.asInstanceOf[String], true))
      .toDF("K", "Attr", "Version", "VF", "VT", "IsCurrent")
      .select(col("K"), col("Attr"), col("Version"),
        to_date(col("VF")).as("ValidFrom"), to_date(col("VT")).as("ValidTo"),
        col("IsCurrent"))
    val noop = Seq((1L, "A")).toDF("K", "Attr")
    val out = Scd.scd2Apply(dim, noop, "K", Seq("Attr"),
      to_date(lit("2021-06-01"))).collect()
    assert(out.length === 2, "no-op change must not version")
    assert(out.forall(_.getAs[Boolean]("IsCurrent")))
    val real = Seq((1L, "Z")).toDF("K", "Attr")
    val out2 = Scd.scd2Apply(dim, real, "K", Seq("Attr"),
      to_date(lit("2021-06-01"))).collect()
    assert(out2.length === 3)
    assert(out2.count(r => r.getAs[Long]("K") == 1L) === 2)
  }

  test("scd2: two consecutive change batches sequence into adjacent version chains") {
    import spark.implicits._
    // key 1: changed by BOTH batches (3-version chain); key 2: only by
    // batch 2 (2 versions); key 3: untouched (1 version)
    val dim = Seq(
      (1L, "A", 1, "2020-01-01", null.asInstanceOf[String], true),
      (2L, "B", 1, "2020-01-01", null.asInstanceOf[String], true),
      (3L, "C", 1, "2020-01-01", null.asInstanceOf[String], true))
      .toDF("K", "Attr", "Version", "VF", "VT", "IsCurrent")
      .select(col("K"), col("Attr"), col("Version"),
        to_date(col("VF")).as("ValidFrom"), to_date(col("VT")).as("ValidTo"),
        col("IsCurrent"))
    val after1 = Scd.scd2Apply(dim, Seq((1L, "A2")).toDF("K", "Attr"),
      "K", Seq("Attr"), to_date(lit("2021-01-01")))
    val after2 = Scd.scd2Apply(after1,
      Seq((1L, "A3"), (2L, "B2"), (3L, "C")).toDF("K", "Attr"),
      "K", Seq("Attr"), to_date(lit("2022-01-01"))).collect()
    assert(after2.length === 6) // 3 + 1 + 2 versions
    val byKey = after2.groupBy(_.getAs[Long]("K"))
    byKey.foreach { case (k, rs) =>
      assert(rs.count(_.getAs[Boolean]("IsCurrent")) === 1, s"key $k current rows")
      val chain = rs.sortBy(_.getAs[Int]("Version"))
      assert(chain.map(_.getAs[Int]("Version")).toSeq === (1 to chain.length),
        s"key $k versions not contiguous")
      // ValidTo of version v must equal ValidFrom of version v+1, and
      // only the last version may have an open ValidTo
      chain.sliding(2).foreach {
        case Array(prev, next) =>
          assert(prev.getAs[java.sql.Date]("ValidTo") ===
            next.getAs[java.sql.Date]("ValidFrom"), s"key $k chain not adjacent")
        case _ => ()
      }
      assert(chain.last.isNullAt(chain.last.fieldIndex("ValidTo")))
      assert(chain.dropRight(1).forall(r => !r.isNullAt(r.fieldIndex("ValidTo"))))
    }
    assert(byKey(1L).length === 3)
    assert(byKey(1L).maxBy(_.getAs[Int]("Version")).getAs[String]("Attr") === "A3")
    assert(byKey(2L).length === 2)
    assert(byKey(3L).length === 1) // no-op change in batch 2
  }

  test("scd2: set-to-NULL is a real change and an unknown key is a version-1 insert") {
    import spark.implicits._
    val dim = Seq((1L, "A", 1, "2020-01-01", null.asInstanceOf[String], true))
      .toDF("K", "Attr", "Version", "VF", "VT", "IsCurrent")
      .select(col("K"), col("Attr"), col("Version"),
        to_date(col("VF")).as("ValidFrom"), to_date(col("VT")).as("ValidTo"),
        col("IsCurrent"))
    val changes = Seq((1L, null.asInstanceOf[String]), (9L, "NEW"))
      .toDF("K", "Attr")
    val out = Scd.scd2Apply(dim, changes, "K", Seq("Attr"),
      to_date(lit("2021-06-01"))).collect()
    assert(out.length === 3)
    val k1 = out.filter(_.getAs[Long]("K") == 1L).sortBy(_.getAs[Int]("Version"))
    // null-safe inequality: A -> NULL closes v1 and opens a v2 with NULL
    assert(k1.length === 2, "set-to-NULL must version (plain =!= would no-op)")
    assert(k1(1).isNullAt(k1(1).fieldIndex("Attr")))
    assert(k1(1).getAs[Boolean]("IsCurrent"))
    val k9 = out.filter(_.getAs[Long]("K") == 9L)
    assert(k9.length === 1, "unknown key must insert")
    assert(k9.head.getAs[Int]("Version") === 1)
    assert(k9.head.getAs[Boolean]("IsCurrent"))
    assert(k9.head.getAs[String]("Attr") === "NEW")
    assert(k9.head.getAs[java.sql.Date]("ValidFrom").toString === "2021-06-01")
  }

  test("scd2: a re-appearing key (all rows closed) continues its version chain instead of duplicating Version 1") {
    import spark.implicits._
    // key 5 was soft-deleted: versions 1 and 2 both CLOSED, no current
    // row. A change row for it must open Version 3 (max hist + 1) —
    // re-opening Version 1 would duplicate the historical Version 1 and
    // break the contiguous-chain invariant. Key 9 is brand new.
    val dim = Seq(
      (5L, "A", 1, "2020-01-01", "2021-01-01", false),
      (5L, "B", 2, "2021-01-01", "2021-06-01", false),
      (7L, "C", 1, "2020-01-01", null.asInstanceOf[String], true))
      .toDF("K", "Attr", "Version", "VF", "VT", "IsCurrent")
      .select(col("K"), col("Attr"), col("Version"),
        to_date(col("VF")).as("ValidFrom"), to_date(col("VT")).as("ValidTo"),
        col("IsCurrent"))
    val out = Scd.scd2Apply(dim, Seq((5L, "D"), (9L, "N")).toDF("K", "Attr"),
      "K", Seq("Attr"), to_date(lit("2022-01-01"))).collect()
    val k5 = out.filter(_.getAs[Long]("K") == 5L).sortBy(_.getAs[Int]("Version"))
    assert(k5.map(_.getAs[Int]("Version")).toSeq === Seq(1, 2, 3),
      "re-appearing key must continue at max(historical Version) + 1")
    assert(k5.count(_.getAs[Boolean]("IsCurrent")) === 1)
    assert(k5.last.getAs[String]("Attr") === "D")
    assert(k5.last.getAs[java.sql.Date]("ValidFrom").toString === "2022-01-01")
    val k9 = out.filter(_.getAs[Long]("K") == 9L)
    assert(k9.length === 1 && k9.head.getAs[Int]("Version") === 1,
      "a never-seen key still starts at Version 1")
    assert(out.count(_.getAs[Long]("K") == 7L) === 1) // untouched passthrough
  }

  test("rfm: scores are balanced quintiles, anchor is corpus max, segments follow the case map") {
    val cleaned = Transactions.cleaned(spark, sfDir)
    val rows = Summaries.customerRfm(cleaned).collect()
    assert(rows.nonEmpty)
    // quintiles balanced within 1 (ntile contract)
    Seq("RScore", "FScore", "MScore").foreach { c =>
      val sizes = rows.groupBy(_.getAs[Int](c)).values.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"$c tiles unbalanced")
      assert(rows.forall(r => (1 to 5).contains(r.getAs[Int](c))))
    }
    // recency: minimum is 0 (someone bought on the anchor day)
    assert(rows.map(_.getAs[Int]("RecencyDays")).min === 0)
    // tile orientation: the most recent customers carry the TOP RScore
    val byR = rows.sortBy(_.getAs[Int]("RecencyDays"))
    assert(byR.head.getAs[Int]("RScore") === 5)
    assert(byR.last.getAs[Int]("RScore") === 1)
    rows.foreach { r =>
      val (rs, fs) = (r.getAs[Int]("RScore"), r.getAs[Int]("FScore"))
      val exp = if (rs >= 4 && fs >= 4) "champion"
        else if (rs >= 4) "recent" else if (fs >= 4) "at_risk" else "regular"
      assert(r.getAs[String]("Segment") === exp)
    }
  }

  test("cohort: month-0 retention is 1.0, rates bounded, cohort sizes sum to customer count") {
    val cleaned = Transactions.cleaned(spark, sfDir)
    val rows = Summaries.cohortRetention(cleaned).collect()
    assert(rows.nonEmpty)
    val m0 = rows.filter(_.getAs[Int]("MonthsSince") == 0)
    m0.foreach(r => assert(r.getAs[Double]("RetentionRate") === 1.0))
    rows.foreach { r =>
      val rate = r.getAs[Double]("RetentionRate")
      assert(rate > 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("NActive") <= r.getAs[Long]("CohortSize"))
    }
    val nCust = Summaries.sales(cleaned).select(col("CustomerID")).distinct().count()
    assert(m0.map(_.getAs[Long]("CohortSize")).sum === nCust,
      "every customer belongs to exactly one cohort")
  }

  test("anomalies: z-rule equals a BigInt recomputation over the hour-of-day baseline") {
    val rows = graft.ops.EventsOps.hourlyAnomalies(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byBucket = rows.groupBy(r =>
      (r.getAs[Int]("HourOfDay"), r.getAs[String]("event_type")))
    val s2 = BigInt(graft.ops.EventsOps.AnomalySigmas).pow(2)
    byBucket.foreach { case ((hod, et), rs) =>
      val cs = rs.map(_.getAs[Long]("NEvents"))
      val n = cs.length
      val sc = cs.sum
      val sc2 = cs.map(c => BigInt(c) * c).sum
      val vt = BigInt(n) * sc2 - BigInt(sc) * sc
      rs.foreach { r =>
        assert(r.getAs[Long]("BucketN") === n.toLong)
        val dev = BigInt(r.getAs[Long]("NEvents")) * n - sc
        assert(BigInt(r.getAs[Long]("DevQ")) === dev)
        assert(r.getAs[Boolean]("IsAnomaly") === (dev * dev > s2 * vt),
          s"bucket ($hod,$et) flag")
      }
    }
  }

  test("distribution: histograms partition the count, percentiles ordered, buckets recompute") {
    val rows = graft.ops.EventsOps.valueDistribution(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val vals = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getDouble(1)) }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val vs = vals(t)
      assert(r.getAs[Long]("N") === vs.length.toLong)
      val hs = (0 until graft.ops.EventsOps.DistBuckets)
        .map(i => r.getAs[Long](s"H$i"))
      assert(hs.sum === vs.length.toLong, s"$t histogram does not partition N")
      assert(r.getAs[Double]("P50") <= r.getAs[Double]("P90"))
      assert(r.getAs[Double]("P90") <= r.getAs[Double]("P99"))
      assert(r.getAs[Double]("P99") <= r.getAs[Double]("MaxV"))
      // recompute the buckets with the identical arithmetic
      val (lo, hi) = (r.getAs[Double]("MinV"), r.getAs[Double]("MaxV"))
      val b = graft.ops.EventsOps.DistBuckets
      val exp = Array.fill(b)(0L)
      vs.foreach { v =>
        val k = if (hi == lo) 0
          else math.min(b - 1, math.floor((v - lo) * b / (hi - lo)).toInt)
        exp(k) += 1
      }
      assert(hs.toSeq === exp.toSeq, s"$t bucket counts")
    }
  }

  test("impute: planted-null report reconciles with a driver recomputation") {
    val rows = RelationalOps.imputeReport(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val g = li(flag)
      val nulls = g.count(_._2 % 37 == 0).toLong
      assert(r.getAs[Long]("NRows") === g.length.toLong)
      assert(r.getAs[Long]("NNulls") === nulls)
      assert(nulls > 0, "planting exercised")
      val kept = g.filter(_._2 % 37 != 0).map(_._3)
      val before = kept.map(q => (q * 100).toLong).sum
      assert(r.getAs[Long]("SumQ100Before") === before)
      val fill = math.floor(r.getAs[Double]("FillMedian") * 100).toLong
      assert(r.getAs[Long]("SumQ100After") === before + nulls * fill)
      // median is within the kept values' range
      assert(r.getAs[Double]("FillMedian") >= kept.min &&
        r.getAs[Double]("FillMedian") <= kept.max)
    }
  }

  test("dq: testdata rule counts match independent recomputation (incl. the real dup-key finding)") {
    val rows = RelationalOps.dqChecks(spark, sfDir).collect()
    assert(rows.length === 6)
    val liDf = Tables.lineitem(spark, sfDir)
    val li = liDf.count()
    val ord = Tables.orders(spark, sfDir).count()
    // the synthetic lineitem genuinely carries duplicate
    // (l_orderkey, l_linenumber) pairs — the suite's first real catch;
    // recompute the count independently instead of assuming clean
    val expectedDups = liDf.groupBy(col("l_orderkey"), col("l_linenumber"))
      .count().filter(col("count") > 1)
      .agg(sum(col("count") - 1)).head().getLong(0)
    assert(expectedDups > 0, "fixture changed: dup-key rule no longer exercised")
    rows.foreach { r =>
      val expected = if (r.getAs[Int]("RuleNo") == 3) expectedDups else 0L
      assert(r.getAs[Long]("NViolations") === expected,
        s"rule ${r.getAs[String]("Rule")} violation count")
      val checked = r.getAs[Long]("NChecked")
      if (Set(1, 3, 4, 5).contains(r.getAs[Int]("RuleNo"))) assert(checked === li)
      else assert(checked === ord)
    }
  }

  test("dq: a planted dirty star yields exact per-rule violation counts") {
    val dir = tempDir("graft_dirty").toString
    val ts = Timestamp.valueOf("1995-06-01 00:00:00")
    val old = Timestamp.valueOf("1990-01-01 00:00:00")
    def write(name: String, schema: org.apache.spark.sql.types.StructType,
              rows: Seq[Row]): Unit =
      spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("customer", Tables.customerSchema, Seq(
      Row(1L, "c1", 0, 0.0, "BUILDING")))
    write("orders", Tables.ordersSchema, Seq(
      Row(10L, 1L, "O", 5.0, ts, "1-URGENT"),
      Row(11L, 99L, "O", 5.0, ts, "1-URGENT"),     // orphan custkey
      Row(12L, 1L, "O", 5.0, old, "1-URGENT")))    // date out of range
    def li(ok: Long, ln: Int, qty: Double, px: Double) =
      Row(ok, 1L, 1L, ln, qty, px, 0.0, 0.0, "N", "O", ts)
    write("lineitem", Tables.lineitemSchema, Seq(
      li(10L, 1, 5.0, 100.0),
      li(10L, 1, 5.0, 100.0),   // dup (orderkey, linenumber)
      li(77L, 1, 5.0, 100.0),   // orphan orderkey
      li(10L, 2, 0.0, 100.0),   // qty out of range
      li(10L, 3, 5.0, -1.0)))   // non-positive price
    val got = RelationalOps.dqChecks(spark, dir).collect()
      .map(r => r.getAs[Int]("RuleNo") -> r.getAs[Long]("NViolations")).toMap
    assert(got === Map(1 -> 1L, 2 -> 1L, 3 -> 1L, 4 -> 1L, 5 -> 1L, 6 -> 1L))
  }

  /** Column 0 of each row as a long, in row order. */
  private def longKeys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Number](0).longValue).toSeq

  test("semi join: cancelled customers are exactly the customers with an 'F' order, each once") {
    val withF = longKeys(Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))).toSet
    val customers = longKeys(Tables.customer(spark, sfDir).select(col("c_custkey"))).toSet
    val got = longKeys(graft.etl.StarQueries.cancelledCustomers(spark, sfDir))
    assert(got === (customers & withF).toSeq.sorted)
    assert(got.nonEmpty && got.length < customers.size, "semi join kept none or all customers")
  }

  test("anti join: unsold parts are exactly the parts no line item references") {
    // every fixture part sells, so a second star drops the line items
    // of every third part: the anti join must return exactly those
    val planted = tempDir("graft_unsold").toString
    Tables.part(spark, sfDir).write.parquet(s"$planted/part.parquet")
    Tables.lineitem(spark, sfDir).filter(col("l_partkey") % 3 =!= 0)
      .write.parquet(s"$planted/lineitem.parquet")
    val parts = longKeys(Tables.part(spark, sfDir).select(col("p_partkey"))).toSet
    Seq(sfDir -> false, planted -> true).foreach { case (dir, plantedDir) =>
      val sold = longKeys(Tables.lineitem(spark, dir).select(col("l_partkey"))).toSet
      val got = longKeys(graft.etl.StarQueries.unsoldParts(spark, dir))
      assert(got === (parts -- sold).toSeq.sorted, dir)
      if (plantedDir) {
        assert(got.nonEmpty && got.forall(_ % 3 == 0), "planted unsold parts missing")
      }
    }
  }

  /** Per-date exact decimal(18, 4) revenue of the non-cancelled cleaned
    * rows, summed on the driver, in date order. */
  private def dailyRevenueDec(): Seq[(java.time.LocalDate, BigDecimal)] =
    Transactions.cleaned(spark, sfDir).filter(!col("IsCancelled"))
      .select(col("Date"), col("TotalAmount")).collect()
      .groupBy(_.getDate(0).toLocalDate)
      .map { case (d, rs) =>
        d -> rs.map(r => BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      }.toSeq.sortBy(_._1.toEpochDay)

  test("running total: daily revenue and its prefix sums equal driver decimal sums") {
    val want = dailyRevenueDec()
    val prefix = want.map(_._2).scanLeft(BigDecimal(0))(_ + _).tail
    val got = Summaries.runningTotal(Transactions.cleaned(spark, sfDir)).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getAs[Double]("Revenue"), r.getAs[Double]("CumRevenue")))
      .toSeq
    assert(got === want.zip(prefix).map { case ((d, v), c) => (d, v.toDouble, c.toDouble) })
  }

  test("lag growth: previous-day revenue and growth follow the date order; the first day has none") {
    val want = dailyRevenueDec().map { case (d, v) => d -> v.toDouble }
    val rows = Summaries.lagGrowth(Transactions.cleaned(spark, sfDir)).collect()
    assert(rows.map(r => (r.getDate(0).toLocalDate, r.getAs[Double]("Revenue"))).toSeq === want)
    assert(rows.head.isNullAt(2) && rows.head.isNullAt(3))
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getAs[Double]("PrevRevenue") === prev.getAs[Double]("Revenue"))
      assert(cur.getAs[Double]("Growth") ===
        cur.getAs[Double]("Revenue") - prev.getAs[Double]("Revenue"))
    }
  }
}
