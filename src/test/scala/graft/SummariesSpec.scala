package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.etl.Summaries

/** Summary-operator trap tests (SURVEY.md §2.3-2.4 ⚠ notes) on crafted
  * cleaned-shaped data. */
class SummariesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("InvoiceNo", StringType),
    StructField("StockCode", StringType),
    StructField("Description", StringType),
    StructField("Quantity", LongType),
    StructField("InvoiceDate", TimestampType),
    StructField("UnitPrice", DoubleType),
    StructField("CustomerID", IntegerType),
    StructField("Country", StringType),
    StructField("IsCancelled", BooleanType),
    StructField("TotalAmount", DoubleType),
    StructField("Date", DateType)))

  private def ts(s: String) = Timestamp.valueOf(s)
  private def d(s: String) = java.sql.Date.valueOf(s)

  private def mk(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private def sale(inv: String, cust: Int, amount: Double, when: String,
                   cancelled: Boolean = false) =
    Row(inv, "S1", "D", 1L, ts(when), amount, cust, "Nowhere", cancelled,
      amount, d(when.substring(0, 10)))

  test("⚠D: LifespanDays truncates whole 24h periods, not calendar boundaries (etl.py:134-136)") {
    // 23:00 day1 → 01:00 day2 = 2h → 0 days (datediff would say 1)
    val df = mk(Seq(
      sale("1", 1, 10.0, "2011-01-01 23:00:00"),
      sale("2", 1, 10.0, "2011-01-02 01:00:00"),
      sale("3", 2, 10.0, "2011-01-01 10:00:00"),
      sale("4", 2, 10.0, "2011-01-03 10:00:00")))
    val got = Summaries.customerSummary(df)
      .select("CustomerID", "LifespanDays").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got(1) === 0L)
    assert(got(2) === 2L)
  }

  test("⚠M: MA7 is NULL until 7 rows are present (rolling min_periods, etl.py:195-198)") {
    val days = (1 to 9).map(i => sale(s"$i", 1, 100.0, f"2011-01-$i%02d 09:00:00"))
    val out = Summaries.dailySales(mk(days)).select("Date", "MA7").collect()
    assert(out.length === 9)
    out.take(6).foreach(r => assert(r.isNullAt(1), s"expected null MA7 at ${r.get(0)}"))
    out.drop(6).foreach(r => assert(!r.isNullAt(1) && math.abs(r.getDouble(1) - 100.0) < 1e-9))
  }

  test("⚠Q: ntile(4) segments map 1..4 → Bronze..Platinum deterministically") {
    val df = mk((1 to 8).map(i => sale(s"$i", i, i * 100.0, "2011-01-01 09:00:00")))
    val seg = Summaries.customerSummary(df)
      .select("CustomerID", "Segment").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(seg(1) === "Bronze" && seg(2) === "Bronze")
    assert(seg(3) === "Silver" && seg(4) === "Silver")
    assert(seg(5) === "Gold" && seg(6) === "Gold")
    assert(seg(7) === "Platinum" && seg(8) === "Platinum")
  }

  test("⚠First: customer Country is min_by InvoiceDate (earliest transaction's country)") {
    val df = mk(Seq(
      Row("1", "S1", "D", 1L, ts("2011-01-05 09:00:00"), 1.0, 1, "France", false, 1.0, d("2011-01-05")),
      Row("2", "S1", "D", 1L, ts("2011-01-01 09:00:00"), 1.0, 1, "Germany", false, 1.0, d("2011-01-01"))))
    val r = Summaries.customerSummary(df).select("Country").head()
    assert(r.getString(0) === "Germany")
  }

  test("A13: RevenueShare sums to 100") {
    val df = mk(Seq(
      sale("1", 1, 30.0, "2011-01-01 09:00:00"),
      sale("2", 2, 70.0, "2011-01-01 10:00:00")))
    val shares = Summaries.countrySummary(
      df.withColumn("Country", org.apache.spark.sql.functions.concat_ws("", df("CustomerID").cast(StringType))))
      .select("RevenueShare").collect().map(_.getDouble(0))
    assert(math.abs(shares.sum - 100.0) < 1e-9)
  }

  test("cancelled rows are excluded from every summary (etl.py:114,154,181,210)") {
    val df = mk(Seq(
      sale("1", 1, 50.0, "2011-01-01 09:00:00"),
      sale("C2", 1, 999.0, "2011-01-02 09:00:00", cancelled = true)))
    val rev = Summaries.customerSummary(df).select("TotalRevenue").head().getDouble(0)
    assert(rev === 50.0)
    assert(Summaries.dailySales(df).count() === 1)
  }

  test("AvgOrderValue * TotalOrders == TotalRevenue (property, etl.py:131-133)") {
    val cleaned = graft.etl.Transactions.cleaned(spark, sfDir)
    val rows = Summaries.customerSummary(cleaned)
      .select("TotalRevenue", "TotalOrders", "AvgOrderValue").collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2) * r.getLong(1)) < 1e-6)
    }
  }

  test("customerSegmentsApprox agrees with exact ntile segments on ≥99% of customers (sf0.1)") {
    import org.apache.spark.sql.functions.col
    // the fallback trades exact quartile EDGES for a fully parallel
    // plan; divergence must stay confined to boundary ties
    val dir = "/root/testdata/sf0.1"
    val cleaned = graft.etl.Transactions.cleaned(spark, dir)
    val exact = Summaries.customerSummary(cleaned)
      .select(col("CustomerID"), col("Segment")).collect()
      .map(r => r.getAs[Int]("CustomerID") -> r.getAs[String]("Segment")).toMap
    val approx = Summaries.customerSegmentsApprox(cleaned).collect()
      .map(r => r.getAs[Int]("CustomerID") -> r.getAs[String]("Segment")).toMap
    assert(approx.keySet === exact.keySet)
    val agree = approx.count { case (k, v) => exact(k) == v }
    val pct = agree.toDouble / approx.size
    assert(pct >= 0.99,
      f"segment agreement $pct%.4f < 0.99 (${approx.size - agree} of ${approx.size} customers differ)")
  }

  test("customerSegmentsApproxGate: 4 segment rows, every sketch-bound boolean TRUE (sf0.1)") {
    import org.apache.spark.sql.functions.col
    val cleaned = graft.etl.Transactions.cleaned(spark, "/root/testdata/sf0.1")
    val rows = Summaries.customerSegmentsApproxGate(cleaned).collect()
    assert(rows.map(_.getAs[String]("Segment")).toSeq ==
      Seq("Bronze", "Gold", "Platinum", "Silver"))
    val n = Summaries.customerSegmentsApprox(cleaned).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("TotalCustomers") == n)
      assert(r.getAs[Boolean]("SegCountOk"), s"SegCountOk false for $r")
      assert(r.getAs[Boolean]("BoundaryRankOk"), s"BoundaryRankOk false for $r")
      assert(r.getAs[Boolean]("BoundariesMonotone"), s"monotone false for $r")
    }
  }

  test("customerSegmentsBounds agrees with exact ntile segments on ≥99% of customers (sf0.1)") {
    import org.apache.spark.sql.functions.col
    // the driver-hash-checked exact-boundary variant: divergence from
    // positional ntile must stay confined to equal-revenue runs
    // straddling a quartile cut (value thresholds keep a run together)
    val dir = "/root/testdata/sf0.1"
    val cleaned = graft.etl.Transactions.cleaned(spark, dir)
    val exact = Summaries.customerSummary(cleaned)
      .select(col("CustomerID"), col("Segment")).collect()
      .map(r => r.getAs[Int]("CustomerID") -> r.getAs[String]("Segment")).toMap
    val bounds = Summaries.customerSegmentsBounds(cleaned).collect()
      .map(r => r.getAs[Int]("CustomerID") -> r.getAs[String]("Segment")).toMap
    assert(bounds.keySet === exact.keySet)
    val agree = bounds.count { case (k, v) => exact(k) == v }
    val pct = agree.toDouble / bounds.size
    assert(pct >= 0.99,
      f"segment agreement $pct%.4f < 0.99 (${bounds.size - agree} of ${bounds.size} customers differ)")
  }

  test("theilSen: recovers a planted linear trend exactly despite a 10x outlier day") {
    // 40 days of rev = 100 + 5·t, with day 20 spiked 10× — the median
    // of pairwise slopes must still be EXACTLY 5.0/day (the breakdown
    // property that distinguishes Theil–Sen from least squares), and
    // the intercept the median residual anchor
    val base = java.time.LocalDate.parse("1995-06-01")
    val rows = (0 until 40).map { t =>
      val day = base.plusDays(t).toString
      val rev = if (t == 20) 10.0 * (100.0 + 5.0 * t) else 100.0 + 5.0 * t
      sale(s"I$t", 1, rev, s"$day 12:00:00")
    }
    val out = Summaries.theilSenTrend(mk(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("NDays") === 40L)
    assert(r.getAs[Long]("NPairs") === 40L * 39 / 2)
    assert(r.getAs[Double]("Slope") === 5.0,
      s"outlier moved the robust slope: ${r.getAs[Double]("Slope")}")
    // intercept: median of rev_t − 5·d_t; 39 of 40 residuals equal the
    // clean intercept, so the median IS the clean line's intercept at
    // the shared epoch
    val epochOff = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(Summaries.TheilSenEpoch), base)
    val wantIntercept = 100.0 - 5.0 * epochOff
    assert(r.getAs[Double]("Intercept") === wantIntercept,
      s"intercept ${r.getAs[Double]("Intercept")} != $wantIntercept")
  }

  test("cusum: planted level shift is located exactly, means recovered on both sides") {
    // 30 days at 100/day then 30 days at 200/day: the integer CUSUM
    // statistic |N·S_t − t·Total| peaks exactly at the last low day
    // (Dev = 3000t rising, then 180000 − 3000t falling, both in
    // scale-0 currency·days), so the split is recovered bit-exactly
    val base = java.time.LocalDate.parse("1995-06-01")
    val rows = (0 until 60).map { t =>
      val day = base.plusDays(t.toLong).toString
      sale(s"I$t", 1, if (t < 30) 100.0 else 200.0, s"$day 12:00:00")
    }
    val out = Summaries.cusumChangepoint(mk(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("NDays") === 60L)
    assert(r.getAs[java.sql.Date]("ChangeDate").toLocalDate === base.plusDays(29))
    assert(r.getAs[Double]("MeanBefore") === 100.0)
    assert(r.getAs[Double]("MeanAfter") === 200.0)
    assert(r.getAs[Double]("PeakDev") === 1500.0)
  }

  test("seasonalDecompose: pure weekly pattern yields flat trend, exact seasonal, zero residual") {
    // rev = 100 + 10·weekday over 35 consecutive days: any centered
    // 7-row window sums one full week, so Trend ≡ weekly mean (130),
    // Seasonal recovers 10·wd − 30 exactly, Residual ≡ 0
    val base = java.time.LocalDate.parse("1995-06-05") // a Monday
    val rows = (0 until 35).map { t =>
      val day = base.plusDays(t.toLong)
      val rev = 100.0 + 10.0 * day.getDayOfWeek.getValue.toDouble - 10.0
      sale(s"I$t", 1, rev, s"$day 12:00:00")
    }
    val out = Summaries.seasonalDecompose(mk(rows)).collect()
    assert(out.length === 35)
    out.foreach { r =>
      val wd = r.getAs[Int]("Weekday")
      val rev = r.getAs[Double]("Revenue")
      assert(rev === 100.0 + 10.0 * wd)
      if (!r.isNullAt(r.fieldIndex("Trend"))) {
        assert(r.getAs[Double]("Trend") === 130.0, s"trend not flat at $r")
        assert(r.getAs[Double]("Seasonal") === 10.0 * wd - 30.0)
        assert(r.getAs[Double]("Residual") === 0.0)
      }
    }
    // min_periods edges: first 3 and last 3 rows have no full window
    val nullTrend = out.count(r => r.isNullAt(r.fieldIndex("Trend")))
    assert(nullTrend === 6)
  }

  test("autocorr: weekly-patterned series peaks at lag 7; values equal a driver recomputation") {
    val base = java.time.LocalDate.parse("1995-06-05") // a Monday
    val rows = (0 until 70).map { t =>
      val day = base.plusDays(t.toLong)
      val rev = 100.0 + 10.0 * (day.getDayOfWeek.getValue - 1)
      sale(s"I$t", 1, rev, s"$day 12:00:00")
    }
    val out = Summaries.autocorrDaily(mk(rows)).collect()
    assert(out.map(_.getAs[Int]("Lag")).toSeq === (1 to Summaries.AcfMaxLag))
    val acf = out.map(r => r.getAs[Int]("Lag") -> r.getAs[Double]("Acf")).toMap
    // strict weekly periodicity: lag 7 dominates every shorter lag
    (1 to 6).foreach(k => assert(acf(7) > acf(k), s"ACF(7)=${acf(7)} not above ACF($k)=${acf(k)}"))
    assert(acf(7) > 0.5)
    // driver recomputation of the exact formula (BigInt — the engine's
    // decimal(38,0) sums must match these bit-for-bit after division)
    val q = (0 until 70).map { t =>
      val day = base.plusDays(t.toLong)
      BigInt(math.round((100.0 + 10.0 * (day.getDayOfWeek.getValue - 1)) * 10000))
    }
    val n = BigInt(q.size); val s = q.sum
    val y = q.map(v => n * v - s)
    val den = y.map(v => v * v).sum
    out.foreach { r =>
      val k = r.getAs[Int]("Lag")
      val num = (k until 70).map(t => y(t) * y(t - k)).sum
      assert(r.getAs[Long]("NPairs") === (70 - k).toLong)
      assert(r.getAs[Double]("Acf") === num.toDouble / den.toDouble, s"lag $k mismatch")
    }
  }

  test("outliersIqr: planted spike is flagged, clean bulk is not, counts reconcile") {
    val base = java.time.LocalDate.parse("1995-06-01")
    // 99 sales at 100 ± small spread, one 10_000 spike: exactly one
    // upper outlier, zero lower (fences from the tight quartiles)
    val rows = (0 until 99).map { t =>
      sale(s"I$t", 1, 100.0 + (t % 5), s"${base.plusDays(t.toLong % 30)} 12:00:00")
    } :+ sale("SPIKE", 1, 10000.0, s"$base 12:00:00")
    val out = Summaries.outliersIqr(mk(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("NRows") === 100L)
    assert(r.getAs[Long]("NAbove") === 1L, s"spike not flagged: $r")
    assert(r.getAs[Long]("NBelow") === 0L)
    assert(r.getAs[Double]("OutlierRate") === 0.01)
    assert(r.getAs[Double]("IqrHi") < 10000.0 && r.getAs[Double]("IqrLo") < 100.0)
  }

  test("cusum: no-shift constant series still returns a proper split with equal means") {
    val base = java.time.LocalDate.parse("1995-06-01")
    val rows = (0 until 10).map { t =>
      val day = base.plusDays(t.toLong).toString
      sale(s"I$t", 1, 50.0, s"$day 12:00:00")
    }
    val out = Summaries.cusumChangepoint(mk(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    // all Dev_t = 0 → earliest-day tie-break wins: t = 1
    assert(r.getAs[java.sql.Date]("ChangeDate").toLocalDate === base)
    assert(r.getAs[Double]("PeakDev") === 0.0)
    assert(r.getAs[Double]("MeanBefore") === 50.0)
    assert(r.getAs[Double]("MeanAfter") === 50.0)
  }

  test("seasonalDecompose: a series too short for any 7-row window keeps its rows with null components") {
    // 5 days: no complete centered 7-observation window exists, so no
    // weekday ever detrends — the degenerate-input contract (left-join
    // to the seasonal table) reports every day with Revenue populated
    // and null Trend/Seasonal/Residual instead of silently returning
    // ZERO rows (the pre-round-11 inner-join behavior the advisory
    // flagged)
    val df = mk((1 to 5).map(i => sale(s"I$i", 1, 10.0 * i, f"2024-01-0$i%d 10:00:00")))
    val rows = Summaries.seasonalDecompose(df).collect()
    assert(rows.length === 5, "short series must keep every day, not vanish")
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("Revenue")))
      assert(r.isNullAt(r.fieldIndex("Trend")), "no 7-row window exists — Trend must be null")
      assert(r.isNullAt(r.fieldIndex("Seasonal")))
      assert(r.isNullAt(r.fieldIndex("Residual")))
    }
  }

  test("topCustomers: top n by revenue, ties by CustomerID, cancelled rows excluded (README.md:132-136)") {
    val df = mk(Seq(
      sale("1", 1, 20.0, "2011-01-01 09:00:00"),
      sale("2", 1, 30.0, "2011-01-02 09:00:00"),
      sale("3", 2, 50.0, "2011-01-02 10:00:00"),
      sale("4", 3, 80.0, "2011-01-03 09:00:00"),
      sale("5", 4, 10.0, "2011-01-03 10:00:00"),
      sale("C6", 4, 999.0, "2011-01-04 09:00:00", cancelled = true)))
    val top = Summaries.topCustomers(df, n = 3)
    assert(top.columns.toSeq === Seq("CustomerID", "Country", "TotalOrders", "TotalRevenue"))
    assert(top.collect().map(_.toSeq).toSeq === Seq(
      Seq(3, "Nowhere", 1L, 80.0),
      Seq(1, "Nowhere", 2L, 50.0),
      Seq(2, "Nowhere", 1L, 50.0)))
  }

  test("productSummary: one row per (StockCode, Description), distinct orders and customers (etl.py:150-175)") {
    def item(inv: String, cust: Int, stock: String, desc: String, qty: Long, price: Double,
             cancelled: Boolean = false) =
      Row(inv, stock, desc, qty, ts("2011-01-01 09:00:00"), price, cust, "Nowhere", cancelled,
        qty * price, d("2011-01-01"))
    val df = mk(Seq(
      item("1", 1, "S1", "Mug", 2, 3.0),
      item("1", 1, "S1", "Mug", 1, 3.0),
      item("2", 2, "S1", "Mug", 4, 2.5),
      item("3", 1, "S1", "Mug (red)", 1, 5.0),
      item("4", 3, "S2", "Pen", 10, 1.0),
      item("C5", 3, "S2", "Pen", 3, 1.0, cancelled = true)))
    val rows = Summaries.productSummary(df).collect().map(_.toSeq).toSeq
    assert(rows === Seq(
      Seq("S1", "Mug", 7L, 19.0, 2L, 2L, 19.0 / 7),
      Seq("S2", "Pen", 10L, 10.0, 1L, 1L, 1.0),
      Seq("S1", "Mug (red)", 1L, 5.0, 1L, 1L, 5.0)))
  }

  test("dailyTrendRecent: the trailing window counts back from the last sales day (README.md:144-147)") {
    val df = mk(Seq(
      sale("1", 1, 10.0, "2011-01-01 09:00:00"),
      sale("2", 1, 20.0, "2011-01-05 09:00:00"),
      sale("3", 1, 30.0, "2011-01-08 09:00:00"),
      sale("4", 2, 5.0, "2011-01-08 11:00:00"),
      sale("5", 2, 40.0, "2011-01-10 09:00:00"),
      // a cancelled later day must not move the window's end
      sale("C6", 2, 99.0, "2011-01-20 09:00:00", cancelled = true)))
    val rows = Summaries.dailyTrendRecent(df, days = 7).collect().map(_.toSeq).toSeq
    assert(rows === Seq(
      Seq(d("2011-01-05"), 20.0, 1L, 1L, 1L),
      Seq(d("2011-01-08"), 35.0, 2L, 2L, 2L),
      Seq(d("2011-01-10"), 40.0, 1L, 1L, 1L)))
  }
}
