package graft

import graft.ops.MultimodalOps

/** The byte-twin media queries and the perceptual-hash family over the
  * binary payload column: each query against an independent driver
  * recomputation over the payload bytes, the invariances each hash
  * promises, and the native band kernels against the declarative forms
  * they replaced. */
class MultimodalSpec extends SparkSpec {

  /** (doc_id, UTF-8 payload bytes) of the fixture corpus, by doc_id —
    * what `payloads` casts `text` to. */
  private def payloadBytes(): Seq[(Long, Array[Byte])] =
    graft.etl.Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map { r =>
        assert(!r.isNullAt(1), s"doc ${r.getLong(0)} has null text")
        r.getLong(0) -> r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }.toSeq.sortBy(_._1)

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  test("features: byte statistics equal a driver pass over the payload bytes") {
    val expected = payloadBytes().map { case (id, b) =>
      val u = b.map(_ & 0xff)
      if (u.isEmpty) (id, 0, 0, 0, 0L, 0.0)
      else (id, u.length, u.min, u.max, u.map(_.toLong).sum, u.map(_.toLong).sum.toDouble / u.length)
    }
    val got = MultimodalOps.featuresQuery(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("NBytes"), r.getAs[Int]("MinByte"),
        r.getAs[Int]("MaxByte"), r.getAs[Long]("SumBytes"), r.getAs[Double]("MeanByte"))).toSeq
    assert(got === expected)
  }

  test("meta: byte-twin metadata equals a driver recomputation from the text") {
    val docs = graft.etl.Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val expected = docs.map { case (id, t) =>
      val n = t.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      val first = if (t.isEmpty) 0 else t.codePointAt(0)
      val w = n % 317 + 1
      val h = first * 7 % 97 + 1
      (id, n, first, w, h, w.toDouble / h)
    }.toSeq
    val got = MultimodalOps.metaQuery(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("NBytes"), r.getAs[Int]("FirstByte"),
        r.getAs[Int]("FakeWidth"), r.getAs[Int]("FakeHeight"),
        r.getAs[Double]("AspectRatio"))).toSeq
    assert(got === expected)
  }

  test("frame sampling: every FrameStride-th 64-byte frame, md5 equal to a driver slice") {
    import MultimodalOps.{FrameBytes, FrameStride}
    val expected = payloadBytes().flatMap { case (id, b) =>
      val last = math.max((b.length - 1) / FrameBytes, 0)
      (0 to last by FrameStride).map { i =>
        (id, i, md5Hex(b.slice(i * FrameBytes, (i + 1) * FrameBytes)))
      }
    }
    val got = MultimodalOps.frameSample(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("FrameIdx"), r.getAs[String]("FrameMd5"))).toSeq
    assert(got === expected)
    // the corpus has payloads longer than one stride, so sampling skips frames
    assert(got.exists(_._2 > 0), "no doc reached a second sampled frame")
  }

  test("resize: kept bytes are every ResizeFactor-th payload byte, size and md5 equal a driver pass") {
    import MultimodalOps.ResizeFactor
    val expected = payloadBytes().map { case (id, b) =>
      val kept = b.indices.filter(_ % ResizeFactor == 0).map(b(_)).toArray
      (id, kept.length, md5Hex(kept), kept.length % 317 + 1)
    }
    val got = MultimodalOps.resize(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("NBytesResized"),
        r.getAs[String]("ResizedMd5"), r.getAs[Int]("FakeWidthResized"))).toSeq
    assert(got === expected)
  }

  test("ahash_neardup: banded query equals an independent brute-force recomputation at fixture scale") {
    import graft.etl.Tables
    val mm = MultimodalOps
    // independent recomputation of the declared byte-twin semantics
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    def bandsOf(text: String): Seq[Int] = {
      val len = text.length
      val s = (0 until 64).map { i =>
        if (len == 0) 0 else text.charAt((i * len) / 64).toInt
      }
      val m = s.sum / 64
      (0 until mm.AhashBands).map { b =>
        (0 until mm.AhashBandBits).map { j =>
          if (s(mm.AhashBandBits * b + j) > m) 1 << j else 0
        }.sum
      }
    }
    val bv = docs.map { case (id, t) => id -> bandsOf(t) }.toMap
    // hot-cap + shared-band candidates, exactly as declared
    val bucketSizes = bv.toSeq
      .flatMap { case (id, bs) => bs.zipWithIndex.map { case (v, b) => (b, v) -> id } }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val cand = bucketSizes.values.filter(_.size <= mm.AhashBucketCap)
      .flatMap(ids => for (a <- ids; c <- ids if a < c) yield (a, c)).toSet
    val expected = cand.toSeq.map { case (a, c) =>
      val h = bv(a).zip(bv(c)).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      (a, c, h)
    }.filter(_._3 <= mm.AhashMaxHamming).sortBy(p => (p._1, p._2))
    val got = mm.ahashNeardup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("IdA"), r.getAs[Long]("IdB"), r.getAs[Int]("Hamming"))).toSeq
    assert(got === expected)
    // every reported pair respects the declared bound and orientation
    got.foreach { case (a, c, h) =>
      assert(a < c && h <= mm.AhashMaxHamming, s"($a,$c,$h)")
    }
  }

  test("phash: every AC basis row sums to exactly zero — brightness shifts only move DC") {
    val b = MultimodalOps.PhashDctBasis
    assert(b.size === 64)
    for (i <- 1 until 8)
      assert((0 until 8).map(j => b(i * 8 + j)).sum === 0L, s"AC row $i does not cancel")
    assert((0 until 8).map(b(_)).sum === 8 * MultimodalOps.PhashDctScale)
  }

  test("phash_neardup: banded query equals an independent DCT recomputation; shift-invariant") {
    import graft.etl.Tables
    val mm = MultimodalOps
    val cb = mm.PhashDctBasis
    def hashOf(s: IndexedSeq[Int]): Seq[Int] = {
      val t = (0 until 64).map { k =>
        val u = k / 8; val v = k % 8
        var acc = 0L
        var m = 0
        while (m < 64) {
          acc += cb(u * 8 + m / 8) * cb(v * 8 + m % 8) * s(m)
          m += 1
        }
        acc
      }
      val med = t.drop(1).sorted.apply(31)
      (0 until mm.AhashBands).map { bd =>
        (0 until mm.AhashBandBits)
          .filter(j => mm.AhashBandBits * bd + j + 1 <= 63 &&
            t(mm.AhashBandBits * bd + j + 1) > med)
          .map(1 << _).sum
      }
    }
    def samples(text: String): IndexedSeq[Int] = {
      val len = text.length
      (0 until 64).map(i => if (len == 0) 0 else text.charAt((i * len) / 64).toInt)
    }
    // structural brightness invariance on a real doc's samples
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val s0 = samples(docs.head._2)
    assert(hashOf(s0) === hashOf(s0.map(_ + 17)),
      "uniform sample shift changed the pHash")
    // full recomputation of the banded query
    val bv = docs.map { case (id, t) => id -> hashOf(samples(t)) }.toMap
    val buckets = bv.toSeq
      .flatMap { case (id, bs) => bs.zipWithIndex.map { case (v, b) => (b, v) -> id } }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val cand = buckets.values.filter(_.size <= mm.AhashBucketCap)
      .flatMap(ids => for (a <- ids; c <- ids if a < c) yield (a, c)).toSet
    val expected = cand.toSeq.map { case (a, c) =>
      val h = bv(a).zip(bv(c)).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      (a, c, h, h <= mm.PhashMaxHamming)
    }.sortBy(p => (p._1, p._2))
    val got = mm.phashNeardup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("IdA"), r.getAs[Long]("IdB"),
        r.getAs[Int]("Hamming"), r.getAs[Boolean]("IsClose"))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "no band candidates at fixture scale — gate would be vacuous")
  }

  test("audio fingerprint: banded query equals a driver recomputation; gain-invariant") {
    import graft.etl.Tables
    val mm = MultimodalOps
    def hashOf(s: IndexedSeq[Int]): Seq[Int] = {
      // long energies — the engine kernel's widened arithmetic
      val e = (0 until 64).map(f =>
        (0 until 4).map(j => s(4 * f + j).toLong * s(4 * f + j)).sum)
      (0 until mm.AhashBands).map { b =>
        (0 until mm.AhashBandBits)
          .filter(j => mm.AhashBandBits * b + j + 1 <= 63 &&
            e(mm.AhashBandBits * b + j + 1) > e(mm.AhashBandBits * b + j))
          .map(1 << _).sum
      }
    }
    def samples(text: String): IndexedSeq[Int] = {
      val len = text.length
      (0 until 256).map(i => if (len == 0) 0 else text.charAt((i * len) / 256).toInt)
    }
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    // gain invariance: scaling every sample preserves every energy
    // comparison, so the fingerprint is identical (volume changes
    // cannot create or destroy near-dup pairs)
    val s0 = samples(docs.head._2)
    assert(hashOf(s0) === hashOf(s0.map(_ * 3)), "gain change moved the fingerprint")
    val bv = docs.map { case (id, t) => id -> hashOf(samples(t)) }.toMap
    val buckets = bv.toSeq
      .flatMap { case (id, bs) => bs.zipWithIndex.map { case (v, b) => (b, v) -> id } }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val cand = buckets.values.filter(_.size <= mm.AhashBucketCap)
      .flatMap(ids => for (a <- ids; c <- ids if a < c) yield (a, c)).toSet
    val expected = cand.toSeq.map { case (a, c) =>
      val h = bv(a).zip(bv(c)).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      (a, c, h, h <= mm.AudioMaxHamming)
    }.sortBy(p => (p._1, p._2))
    val got = mm.audioFingerprint(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("IdA"), r.getAs[Long]("IdB"),
        r.getAs[Int]("Hamming"), r.getAs[Boolean]("IsClose"))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "no band candidates at fixture scale — gate would be vacuous")
  }

  test("native band kernels are bit-identical to the retired declarative HOF forms") {
    // the HOF pipelines the native expressions replaced, kept here as
    // the executable reference semantics: ascii/substr/length are the
    // engine's own codepoint rules, so any kernel drift (sampling
    // index, div/rounding, band packing, int overflow behavior) fails
    // THIS test on the exact element that diverged — including the
    // edge cases the corpus never exercises (empty text, non-ASCII
    // codepoints, texts shorter than the sample count)
    import org.apache.spark.sql.functions.{col, expr}
    def hofSamples(k: Int) =
      s"transform(sequence(0, ${k - 1}), i -> ascii(substr(text, CAST((CAST(i AS BIGINT) * length(text)) div $k AS INT) + 1, 1)))"
    val cl = MultimodalOps.PhashDctBasis.map(v => s"${v}L").mkString("array(", ", ", ")")
    val tExpr =
      s"""transform(sequence(0, 63), k ->
         |  aggregate(sequence(0, 63), 0L, (a, m) ->
         |    a + element_at($cl, CAST((k div 8) * 8 + (m div 8) + 1 AS INT))
         |      * element_at($cl, (k % 8) * 8 + (m % 8) + 1)
         |      * element_at(s, m + 1)))""".stripMargin
    // the audio energies are WIDENED to bigint relative to the retired
    // int-typed form: under ANSI mode the old form THREW on sampled
    // codepoints past ~23k (4·28450² > 2³¹ — the CJK edge row below),
    // so the kernel accumulates in long; this reference is the same
    // widened arithmetic, value-identical wherever the old form ran
    val eExpr =
      s"""transform(sequence(0, 63), f ->
         |  aggregate(sequence(0, 3), 0L, (a, j) ->
         |    a + CAST(element_at(s, 4 * f + j + 1) AS BIGINT)
         |      * element_at(s, 4 * f + j + 1)))""".stripMargin
    val hofAhash =
      s"""element_at(transform(array(${hofSamples(64)}), s ->
         |  element_at(transform(array(aggregate(s, 0, (a, x) -> a + x) div 64), m ->
         |    transform(sequence(0, 3), b ->
         |      aggregate(sequence(0, 15), 0,
         |        (a, j) -> a + IF(element_at(s, 16 * b + j + 1) > m,
         |                         shiftleft(1, j), 0)))), 1)), 1)""".stripMargin
    val hofPhash =
      s"""element_at(transform(array(${hofSamples(64)}), s ->
         |  element_at(transform(array($tExpr), t ->
         |    element_at(transform(array(element_at(array_sort(slice(t, 2, 63)), 32)), med ->
         |      transform(sequence(0, 3), b ->
         |        aggregate(sequence(0, 15), 0,
         |          (a, j) -> a + IF(16 * b + j + 1 <= 63 AND
         |                           element_at(t, 16 * b + j + 2) > med,
         |                           shiftleft(1, j), 0)))), 1)), 1)), 1)""".stripMargin
    val hofAudio =
      s"""element_at(transform(array(${hofSamples(256)}), s ->
         |  element_at(transform(array($eExpr), e ->
         |    transform(sequence(0, 3), b ->
         |      aggregate(sequence(0, 15), 0,
         |        (a, j) -> a + IF(16 * b + j + 1 <= 63 AND
         |                         element_at(e, 16 * b + j + 2) >
         |                         element_at(e, 16 * b + j + 1),
         |                         shiftleft(1, j), 0)))), 1)), 1)""".stripMargin
    import spark.implicits._
    val edge = Seq("", "x", "ab", "déjà vu — ünïcödé слова 漢字テキスト",
      " control  bytes", " ", "0123456789" * 100,
      (0x20 to 0x2FF).map(_.toChar).mkString).toDF("text")
    val corpus = graft.etl.Tables.documents(spark, sfDir).select(col("text"))
    Seq(corpus, edge).foreach { frame =>
      val rows = frame
        .withColumn("NA", expr("ahash_bands(text)"))
        .withColumn("OA", expr(hofAhash))
        .withColumn("NP", expr("phash_bands(text)"))
        .withColumn("OP", expr(hofPhash))
        .withColumn("NF", expr("audiofp_bands(text)"))
        .withColumn("OF2", expr(hofAudio))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        def g(c: String) = r.getAs[scala.collection.Seq[Int]](c).toList
        assert(g("NA") === g("OA"), s"ahash: ${r.getString(0).take(60)}")
        assert(g("NP") === g("OP"), s"phash: ${r.getString(0).take(60)}")
        assert(g("NF") === g("OF2"), s"audio: ${r.getString(0).take(60)}")
      }
    }
  }
}
