package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import graft.ops.MultimodalOps

/** The REAL image decode path: in-repo generated PNG/JPEG fixtures
  * with known dimensions and pixel statistics, pushed through the
  * mapPartitions decode operators. */
class MultimodalSpec extends SparkSpec {

  private def imageBytes(fmt: String, w: Int, h: Int)
                        (pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
    out.toByteArray
  }

  private def rgb(r: Int, g: Int, b: Int): Int = (r << 16) | (g << 8) | b

  test("decodeMeta reads true dimensions, channels, and format from generated PNG/JPEG") {
    import spark.implicits._
    val png = imageBytes("png", 31, 17)((_, _) => rgb(10, 20, 30))
    val jpg = imageBytes("jpeg", 8, 12)((_, _) => rgb(200, 100, 50))
    val garbage = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    val metas = MultimodalOps.decodeMetaOf(
        Seq((1L, png), (2L, jpg), (3L, garbage)).toDS())
      .collect().map(m => m.doc_id -> m).toMap
    assert(metas(1L).width === 31 && metas(1L).height === 17)
    assert(metas(1L).channels === 3 && metas(1L).format === "image/png")
    assert(metas(1L).n_bytes === png.length)
    assert(metas(2L).width === 8 && metas(2L).height === 12)
    assert(metas(2L).format === "image/jpeg")
    assert(metas(3L).format === MultimodalOps.Undecodable)
    assert(metas(3L).width === 0 && metas(3L).channels === 0)
  }

  test("imageStats computes channel means from real pixels") {
    import spark.implicits._
    // PNG is lossless: a solid color's channel means are exact
    val solid = imageBytes("png", 10, 10)((_, _) => rgb(40, 80, 120))
    // gradient: red ramps 0..249 along x on a 250x4 image -> mean 124.5
    val grad = imageBytes("png", 250, 4)((x, _) => rgb(x, 0, 255))
    val stats = MultimodalOps.imageStatsOf(
        Seq((1L, solid), (2L, grad), (3L, "not an image".getBytes("UTF-8"))).toDS())
      .collect().map(s => s.doc_id -> s).toMap
    assert(stats(1L).channel_means === Seq(40.0, 80.0, 120.0))
    assert(stats(2L).channel_means === Seq(124.5, 0.0, 255.0))
    assert(stats(2L).width === 250 && stats(2L).height === 4)
    assert(stats(3L).format === MultimodalOps.Undecodable)
    assert(stats(3L).channel_means.isEmpty)

    // JPEG is lossy but a solid color survives within quantization
    val jsolid = imageBytes("jpeg", 16, 16)((_, _) => rgb(100, 150, 200))
    val js = MultimodalOps.imageStatsOf(Seq((9L, jsolid)).toDS()).collect().head
    assert(js.channels === 3)
    js.channel_means.zip(Seq(100.0, 150.0, 200.0)).foreach { case (got, want) =>
      assert(math.abs(got - want) <= 4.0, s"jpeg mean $got vs $want drifted past quantization")
    }
  }

  /** Stereo 16-bit little-endian PCM WAV with ch0 = a 0..frames-1 ramp
    * and ch1 = a constant — every expected statistic is exact. */
  private def wavBytes(frames: Int, rateHz: Int, ch1Value: Short): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rateHz.toFloat, 16, 2, true, false)
    val pcm = new Array[Byte](frames * 4)
    for (i <- 0 until frames) {
      val s0 = i.toShort
      pcm(i * 4) = (s0 & 0xff).toByte
      pcm(i * 4 + 1) = ((s0 >> 8) & 0xff).toByte
      pcm(i * 4 + 2) = (ch1Value & 0xff).toByte
      pcm(i * 4 + 3) = ((ch1Value >> 8) & 0xff).toByte
    }
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, frames),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audioStats decodes real WAV PCM: exact frame count, rate, per-channel mean and peak") {
    import spark.implicits._
    val wav = wavBytes(frames = 800, rateHz = 8000, ch1Value = -2000)
    val rows = MultimodalOps.audioStatsOf(
        Seq((1L, wav),
          (2L, "definitely not audio".getBytes("UTF-8")),
          (3L, imageBytes("png", 4, 4)((_, _) => 0))).toDS())
      .collect().map(s => s.doc_id -> s).toMap
    val a = rows(1L)
    assert(a.format === "audio/wav")
    assert(a.sample_rate === 8000 && a.channels === 2 && a.bits === 16)
    assert(a.n_frames === 800L)
    // ch0 ramp 0..799 -> exact mean 399.5, peak 799; ch1 constant -2000
    assert(a.channel_means === Seq(399.5, -2000.0))
    assert(a.channel_peaks === Seq(799, 2000))
    assert(a.n_bytes === wav.length)
    // non-audio payloads (text, an image) are honestly undecodable
    Seq(2L, 3L).foreach { id =>
      assert(rows(id).format === MultimodalOps.Undecodable, s"doc $id")
      assert(rows(id).channel_means.isEmpty)
    }
  }

  test("ahashOf: brightness- and scale-invariant on real decodes; distinct patterns are distant") {
    import spark.implicits._
    // left-dark / right-bright split: block means separate cleanly
    def split(w: Int, h: Int, lo: Int, hi: Int)(x: Int, y: Int): Int = {
      val v = if (x < w / 2) lo else hi; rgb(v, v, v)
    }
    val base = imageBytes("png", 64, 64)(split(64, 64, 40, 200))
    val bright = imageBytes("png", 64, 64)(split(64, 64, 60, 220)) // +20 everywhere
    val small = imageBytes("png", 32, 32)(split(32, 32, 40, 200)) // 2× downscale
    val inverted = imageBytes("png", 64, 64)(split(64, 64, 200, 40))
    val checker = imageBytes("png", 64, 64)((x, y) =>
      if ((x / 8 + y / 8) % 2 == 0) rgb(0, 0, 0) else rgb(255, 255, 255))
    val rows = MultimodalOps.ahashOf(Seq(
        1L -> base, 2L -> bright, 3L -> small, 4L -> inverted,
        5L -> checker, 6L -> "not an image".getBytes("UTF-8")).toDS())
      .collect().map(a => a.doc_id -> a).toMap
    def ham(a: Seq[Int], b: Seq[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    assert(rows(1L).ok && rows(5L).ok && !rows(6L).ok)
    // a uniform brightness shift moves block means and the global mean
    // together: hash exactly invariant
    assert(rows(1L).bands === rows(2L).bands, "brightness shift changed the hash")
    // a clean 2x downscale preserves the 8x8 block structure exactly
    assert(rows(1L).bands === rows(3L).bands, "downscale changed the hash")
    // inversion flips every decided bit: maximal distance from base
    assert(ham(rows(1L).bands, rows(4L).bands) === 64)
    // an unrelated pattern is far away (half-split vs checkerboard)
    assert(ham(rows(1L).bands, rows(5L).bands) >= 16,
      s"checker unexpectedly close: ${ham(rows(1L).bands, rows(5L).bands)}")
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
