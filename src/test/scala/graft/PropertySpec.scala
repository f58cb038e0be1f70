package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.Summaries

/** Property-based invariants (SURVEY.md §5.2 item 4) over
  * ScalaCheck-generated cleaned-shaped data (raw Gen + fixed seeds —
  * the scalatest-plus bridge isn't in the offline dependency set). */
class PropertySpec extends SparkSpec {

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

  private case class Txn(inv: Int, cust: Int, cents: Int, day: Int, country: Int,
                         cancelled: Boolean)

  private val txnGen: Gen[Txn] = for {
    inv <- Gen.choose(1, 500)
    cust <- Gen.choose(1, 40)
    cents <- Gen.choose(1, 100000) // exact 2dp amounts
    day <- Gen.choose(1, 28)
    country <- Gen.choose(0, 5)
    cancelled <- Gen.prob(0.2)
  } yield Txn(inv, cust, cents, day, country, cancelled)

  private def toDf(txns: List[Txn]) = {
    val rows = txns.map { t =>
      val amount = t.cents / 100.0
      val ts = Timestamp.valueOf(f"2011-01-${t.day}%02d 09:00:00")
      Row((if (t.cancelled) "C" else "") + t.inv.toString, "S1", "D", 1L, ts,
        amount, t.cust, s"Country${t.country}", t.cancelled, amount,
        Date.valueOf(f"2011-01-${t.day}%02d"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  private def sample(seed: Long, n: Int = 120): List[Txn] =
    Gen.listOfN(n, txnGen)
      .apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(Nil)
      .filter(_ => true) match {
        case Nil => List(Txn(1, 1, 100, 1, 0, cancelled = false))
        case xs => xs
      }

  test("property: country RevenueShare sums to ~100 and revenue equals exact cents sum") {
    (1L to 5L).foreach { seed =>
      val txns = sample(seed)
      val df = toDf(txns)
      val rows = Summaries.countrySummary(df).collect()
      val shareSum = rows.map(_.getAs[Double]("RevenueShare")).sum
      assert(math.abs(shareSum - 100.0) < 1e-6, s"seed=$seed shareSum=$shareSum")
      val expected = txns.filter(!_.cancelled).map(_.cents.toLong).sum / 100.0
      val got = rows.map(_.getAs[Double]("TotalRevenue")).sum
      assert(math.abs(got - expected) < 1e-9, s"seed=$seed exact decimal sum: $got vs $expected")
    }
  }

  test("property: AvgOrderValue * TotalOrders == TotalRevenue; ntile buckets within ±1") {
    (6L to 10L).foreach { seed =>
      val rows = Summaries.customerSummary(toDf(sample(seed))).collect()
      rows.foreach { r =>
        assert(math.abs(r.getAs[Double]("TotalRevenue") -
          r.getAs[Double]("AvgOrderValue") * r.getAs[Long]("TotalOrders")) < 1e-6)
      }
      val sizes = rows.groupBy(_.getAs[String]("Segment")).view.mapValues(_.length).toMap
      if (rows.length >= 4) {
        assert(sizes.size === 4, s"seed=$seed segments=$sizes")
        assert(sizes.values.max - sizes.values.min <= 1, s"seed=$seed qcut/ntile buckets: $sizes")
      }
    }
  }

  test("property: clean filter is idempotent") {
    (11L to 13L).foreach { seed =>
      val once = Summaries.sales(toDf(sample(seed)))
      assert(Summaries.sales(once).count() === once.count())
    }
  }

  /** Random text fragments, some containing planted PII shapes. */
  private val fragGen: Gen[String] = Gen.oneOf(
    Gen.alphaLowerStr.map(_.take(8)),
    Gen.const("bob.smith+x@mail.example.com"),
    Gen.const("+1-555-0142"),
    Gen.const("a@b.io"),
    Gen.const("plain words only"),
    Gen.const("half@way")) // local-part@host with no dot-TLD: must NOT match

  private def textSample(seed: Long): List[String] =
    Gen.listOfN(60, Gen.listOfN(6, fragGen).map(_.mkString(" ")))
      .apply(Gen.Parameters.default, Seed(seed)).get

  test("property: PII redaction is idempotent and leaves no matchable pattern behind") {
    import org.apache.spark.sql.functions.col
    import graft.ops.TextOps
    (21L to 23L).foreach { seed =>
      import spark.implicits._
      val df = textSample(seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = TextOps.redactPii(df, col("text"))
        .select(col("doc_id"), col("Redacted").as("text"))
      val twice = TextOps.redactPii(once, col("text"))
      twice.collect().foreach { r =>
        // a second pass finds nothing: counts zero, text unchanged
        assert(r.getAs[Int]("NEmails") === 0, s"seed=$seed: ${r.getAs[String]("text")}")
        assert(r.getAs[Int]("NPhones") === 0)
        assert(r.getAs[String]("Redacted") === r.getAs[String]("text"))
      }
    }
  }

  test("property: z-codes share a 2k-bit prefix iff points share a depth-k dyadic box (both dims)") {
    // The locality guarantee the z-ordered layout rests on: agreeing on
    // the top k bits of EVERY dimension (same dyadic box at depth k)
    // is exactly agreeing on the top n·k bits of the Morton code — so
    // contiguous curve ranges are unions of aligned boxes and each
    // output file's footer stats stay tight in all dimensions.
    import org.apache.spark.sql.functions.col
    val n = 2
    val bits = 63 / n // 31 bits per dim
    val pairGen = for {
      a1 <- Gen.choose(0L, (1L << bits) - 1)
      a2 <- Gen.choose(0L, (1L << bits) - 1)
      b1 <- Gen.choose(0L, (1L << bits) - 1)
      b2 <- Gen.choose(0L, (1L << bits) - 1)
    } yield (a1, a2, b1, b2)
    val pairs = Gen.listOfN(300, pairGen)
      .apply(Gen.Parameters.default, Seed(7L)).get
    import spark.implicits._
    val z = pairs.toDF("a1", "a2", "b1", "b2")
      .selectExpr("a1", "a2", "b1", "b2",
        "zorder_long(array(a1, a2)) AS za", "zorder_long(array(b1, b2)) AS zb")
      .collect()
    z.foreach { r =>
      val (a1, a2, b1, b2) = (r.getAs[Long]("a1"), r.getAs[Long]("a2"),
        r.getAs[Long]("b1"), r.getAs[Long]("b2"))
      val (za, zb) = (r.getAs[Long]("za"), r.getAs[Long]("zb"))
      (1 to bits).foreach { k =>
        val sameBox = (a1 >> (bits - k)) == (b1 >> (bits - k)) &&
          (a2 >> (bits - k)) == (b2 >> (bits - k))
        val samePrefix = (za >> (n * (bits - k))) == (zb >> (n * (bits - k)))
        assert(sameBox === samePrefix,
          s"k=$k a=($a1,$a2) b=($b1,$b2) za=$za zb=$zb")
      }
    }
  }

  test("property: repetition fractions stay in [0,1] and flags follow the thresholds") {
    import graft.ops.TextOps
    (31L to 32L).foreach { seed =>
      import spark.implicits._
      val dir = tempDir("graft-prop-docs").toString
      textSample(seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "gen", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      TextOps.repetition(spark, dir).collect().foreach { r =>
        val (d, t) = (r.getAs[Double]("DupBigramFrac"), r.getAs[Double]("TopTokenFrac"))
        assert(d >= 0.0 && d <= 1.0 && t > 0.0 && t <= 1.0, s"seed=$seed d=$d t=$t")
        assert(r.getAs[Boolean]("IsRepetitive") ===
          (d > TextOps.MaxDupBigramFrac || t > TextOps.MaxTopTokenFrac))
      }
    }
  }

  test("perceptual-hash kernels match an independent recomputation on generated unicode text") {
    import graft.ops.MultimodalOps
    import org.apache.spark.unsafe.types.UTF8String
    // alphabets spanning the sampling edge cases: 1-byte ASCII,
    // 2-byte accents/cyrillic, 3-byte CJK, and the 4-byte astral
    // plane (codePoints semantics — Spark's Ascii is codePointAt(0))
    val alphabets = Seq(
      "abcdefgh 0123", "éüñßàç øå", "съешь ещё этих", "漢字テキスト処理",
      new String(Character.toChars(0x1F600)) + new String(Character.toChars(0x10400)) + " x")
    val genText: Gen[String] = for {
      a <- Gen.oneOf(alphabets)
      n <- Gen.choose(0, 200)
      cs <- Gen.listOfN(n, Gen.oneOf(a.codePoints().toArray.toIndexedSeq))
    } yield cs.map(cp => new String(Character.toChars(cp))).mkString
    // independent recomputation — re-derived from the declared
    // semantics, not a copy of the kernel's code path
    def sample(text: String, k: Int): Array[Int] = {
      val cps = text.codePoints().toArray
      (0 until k).map(i =>
        if (cps.isEmpty) 0 else cps(((i.toLong * cps.length) / k).toInt)).toArray
    }
    def bands(nBits: Int)(bit: Int => Boolean): Seq[Int] =
      (0 until 4).map(b => (0 until 16)
        .filter(j => 16 * b + j < nBits && bit(16 * b + j)).map(1 << _).sum)
    def ahashRef(t: String): Seq[Int] = {
      val s = sample(t, 64); val m = s.sum / 64
      bands(64)(i => s(i) > m)
    }
    def phashRef(t: String): Seq[Int] = {
      val s = sample(t, 64)
      val cb = MultimodalOps.PhashDctBasis
      val sp = (0 until 64).map { k =>
        val (u, v) = (k / 8, k % 8)
        (0 until 64).map(m => cb(u * 8 + m / 8) * cb(v * 8 + m % 8) * s(m)).sum
      }
      val med = sp.drop(1).sorted.apply(31)
      bands(63)(i => sp(i + 1) > med)
    }
    def audioRef(t: String): Seq[Int] = {
      val s = sample(t, 256)
      val e = (0 until 64).map(f => (0 until 4).map(j => s(4 * f + j).toLong * s(4 * f + j)).sum)
      bands(63)(i => e(i + 1) > e(i))
    }
    val texts = Gen.listOfN(150, genText)
      .apply(Gen.Parameters.default, Seed(20260815L)).get
    (texts ++ Seq("", " ", "a")).foreach { t =>
      val u = UTF8String.fromString(t)
      assert(graft.functions.ExprKernels.ahashBands(u).toIntArray().toSeq === ahashRef(t), s"ahash: ${t.take(40)}")
      assert(graft.functions.ExprKernels.phashBands(u).toIntArray().toSeq === phashRef(t), s"phash: ${t.take(40)}")
      assert(graft.functions.ExprKernels.audioFpBands(u).toIntArray().toSeq === audioRef(t), s"audio: ${t.take(40)}")
    }
  }
}
