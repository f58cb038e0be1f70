package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata, with REAL image decode / feature-extraction staged behind
  * a per-partition batch boundary.
  *
  * Decode is JDK `javax.imageio` (PNG/JPEG/GIF/BMP — no external
  * codecs needed), run inside `mapPartitions` — the JVM analog of
  * arrow-batched decode UDFs: a typed Dataset, batch iteration per
  * partition, fixed output schema, no driver round-trips. Payloads
  * that are not images (or are corrupt) come back as explicit
  * `"undecodable"` rows rather than errors — a production media scan
  * filters on that column instead of dying mid-corpus.
  *
  * Scale: decode is embarrassingly parallel, one pass, no shuffle; the
  * expensive byte payloads are projected only where needed (binary
  * column pruning), and partition sizing is inherited from the parquet
  * reader (`maxPartitionBytes`), so batches stay memory-bounded.
  */
object MultimodalOps {

  /** Typed metadata row for a decoded media payload. */
  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                       channels: Int, format: String)

  /** `format` value for payloads no installed reader accepts. */
  val Undecodable = "undecodable"

  /** Real image decode: sniff the payload with the registered
    * `javax.imageio` readers, read frame 0, return the decoded image +
    * `image/<format>`. None for non-image or corrupt payloads — the
    * ONE guarded decode both operators share, so no consumer ever
    * re-reads the bytes through an unguarded path (a second
    * `ImageIO.read` can dispatch to a different plugin or return
    * null and would crash the task mid-corpus). */
  private def readImage(payload: Array[Byte]): Option[(java.awt.image.BufferedImage, String)] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            Some((r.read(0),
              "image/" + r.getFormatName.toLowerCase(java.util.Locale.ROOT)))
          } finally r.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch {
      case _: java.io.IOException | _: RuntimeException => None
    }

  /** Payload → typed metadata row ([[Undecodable]] with zeroed
    * dimensions when no reader accepts the bytes). */
  private def decodeImage(id: Long, payload: Array[Byte]): MediaMeta =
    readImage(payload) match {
      case Some((img, fmt)) =>
        MediaMeta(id, payload.length, img.getWidth, img.getHeight,
          img.getRaster.getNumBands, fmt)
      case None => MediaMeta(id, payload.length, 0, 0, 0, Undecodable)
    }

  /** Documents' text bytes treated as opaque binary payloads.
    *
    * Pinned-spread audit exemption (deliberate, recorded): unlike the
    * hash passes below, the decode/feature consumers of this frame do
    * NOT get a `documentsSpread` repartition. Shuffling the opaque
    * payload BYTES purely to parallelize the local single-file gate
    * would contradict the operators' declared scale shape — at real
    * scale the parquet reader already yields many memory-bounded
    * splits (`maxPartitionBytes`) and decode inherits them with zero
    * shuffle; the gate queries on this seam (features/frames/resize)
    * measure ≤ 0.5 s at sf0.1 without it (BENCH_LOCAL), so there is
    * no AQE-collapse tax to fix here. */
  def payloads(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))

  /** Per-partition batched decode over any (id, payload) frame — the
    * operator a pipeline points at an image column. */
  def decodeMetaOf(payloads: Dataset[(Long, Array[Byte])]): Dataset[MediaMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map { case (id, bytes) => decodeImage(id, bytes) })
  }

  /** [[decodeMetaOf]] over the documents table's bytes — which are
    * text, so every row honestly reports [[Undecodable]] (asserted in
    * MultimodalSpec; real image fixtures decode there too). */
  def decodeMeta(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    decodeMetaOf(payloads(spark, dir).as[(Long, Array[Byte])])
  }

  /** Per-channel pixel statistics from a REAL decode: mean sample
    * value per raster band — the downstream shape of any
    * normalize-then-embed image pipeline (channel means/stds are the
    * canonical preprocessing statistics). Same mapPartitions seam;
    * undecodable payloads carry an empty means array. */
  case class ImageStats(doc_id: Long, width: Int, height: Int,
                        channels: Int, format: String,
                        channel_means: Seq[Double])

  def imageStatsOf(payloads: Dataset[(Long, Array[Byte])]): Dataset[ImageStats] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map { case (id, bytes) =>
      readImage(bytes) match {
        case None => ImageStats(id, 0, 0, 0, Undecodable, Seq.empty)
        case Some((img, fmt)) =>
          val raster = img.getRaster
          val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
          val sums = new Array[Double](bands)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var b = 0
              while (b < bands) {
                sums(b) += raster.getSample(x, y, b)
                b += 1
              }
              x += 1
            }
            y += 1
          }
          ImageStats(id, w, h, bands, fmt, sums.toSeq.map(_ / (w.toLong * h)))
      }
    })
  }

  /** Typed metadata + per-channel statistics for a decoded AUDIO
    * payload. `format` is `audio/<type>` on success, [[Undecodable]]
    * otherwise; stats arrays are empty unless the payload is 16-bit
    * signed PCM (the one encoding the stats kernel interprets —
    * anything else still reports honest metadata). */
  case class AudioStats(doc_id: Long, n_bytes: Int, sample_rate: Int,
                        channels: Int, bits: Int, n_frames: Long,
                        format: String,
                        channel_means: Seq[Double], channel_peaks: Seq[Int])

  /** Real audio decode via JDK `javax.sound.sampled` (WAV/AIFF/AU —
    * no external codecs), same guarded-single-decode discipline as
    * [[readImage]]: None for payloads no installed provider accepts. */
  private def readAudio(payload: Array[Byte])
    : Option[(javax.sound.sampled.AudioInputStream, String)] =
    try {
      // getAudioInputStream requires mark/reset for format sniffing
      val in = new java.io.BufferedInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fileFormat = javax.sound.sampled.AudioSystem.getAudioFileFormat(in)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(in)
      Some((ais,
        "audio/" + fileFormat.getType.getExtension.toLowerCase(java.util.Locale.ROOT)))
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException |
           _: java.io.IOException | _: RuntimeException => None
    }

  /** Per-partition batched audio decode + per-channel sample
    * statistics (mean and absolute peak per channel — the
    * normalization statistics of any audio-embedding front end), the
    * audio sibling of [[imageStatsOf]] on the same `mapPartitions`
    * seam. Sample extraction handles 16-bit signed PCM in either
    * endianness; other encodings report metadata with empty stats. */
  def audioStatsOf(payloads: Dataset[(Long, Array[Byte])]): Dataset[AudioStats] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map { case (id, bytes) =>
      readAudio(bytes) match {
        case None =>
          AudioStats(id, bytes.length, 0, 0, 0, 0L, Undecodable,
            Seq.empty, Seq.empty)
        case Some((ais, fmt)) =>
          try {
            val f = ais.getFormat
            val ch = f.getChannels
            val pcm16 =
              f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                f.getSampleSizeInBits == 16
            val data = if (pcm16) ais.readAllBytes() else Array.emptyByteArray
            val nFrames =
              if (pcm16) data.length.toLong / (2L * ch) else ais.getFrameLength
            val (means, peaks) =
              if (!pcm16 || nFrames == 0L) (Seq.empty[Double], Seq.empty[Int])
              else {
                val sums = new Array[Long](ch)
                val pk = new Array[Int](ch)
                var i = 0
                while (i + 2 * ch <= data.length) {
                  var c = 0
                  while (c < ch) {
                    val o = i + 2 * c
                    val s =
                      if (f.isBigEndian) ((data(o) << 8) | (data(o + 1) & 0xff)).toShort
                      else ((data(o + 1) << 8) | (data(o) & 0xff)).toShort
                    sums(c) += s
                    if (math.abs(s.toInt) > pk(c)) pk(c) = math.abs(s.toInt)
                    c += 1
                  }
                  i += 2 * ch
                }
                (sums.toSeq.map(_.toDouble / nFrames), pk.toSeq)
              }
            AudioStats(id, bytes.length, f.getSampleRate.toInt, ch,
              f.getSampleSizeInBits, nFrames, fmt, means, peaks)
          } finally ais.close()
      }
    })
  }

  /** Frame size (bytes) and sampling stride for [[frameSample]] —
    * shared with the DuckDB mirror. */
  val FrameBytes = 64
  val FrameStride = 4

  /** Frame sampling over an opaque media payload: treat the binary as
    * a sequence of fixed-size frames and keep every `FrameStride`-th
    * one — the video-pipeline primitive (decode only sampled frames).
    * All-native plan: `sequence` + `explode` + binary `substring` +
    * `md5`, codegen throughout, embarrassingly parallel, and the
    * binary column is projected only here. The sampled frame is
    * emitted as its md5 (the downstream dedup/caching key a real
    * pipeline stores); a real decoder would consume `Frame` bytes
    * instead. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    payloads(spark, dir)
      .withColumn("NBytes", octet_length(col("payload")))
      .withColumn("FrameIdx",
        // greatest(..., 0): an empty payload still yields frame 0 (of
        // empty bytes) — sequence(0, -1) would throw, and the oracle's
        // truncating (0-1)//64 = 0 emits that same single frame
        explode(sequence(lit(0),
          greatest(floor((col("NBytes") - 1) / FrameBytes), lit(0)).cast(IntegerType),
          lit(FrameStride))))
      .select(col("doc_id"), col("FrameIdx"),
        md5(expr(s"substring(payload, FrameIdx * $FrameBytes + 1, $FrameBytes)"))
          .as("FrameMd5"))
      .orderBy(col("doc_id"), col("FrameIdx"))

  /** Downsample factor for [[resize]] — shared with the mirror. */
  val ResizeFactor = 4

  /** Resize/downsample stub: keep every `ResizeFactor`-th payload byte
    * (the plumbing twin of an image downscale — a real resampler
    * replaces the kernel, the schema/partitioning/pruning shape is
    * identical). Emits the resized payload's size, md5 (the cache/dedup
    * key), and the byte-fingerprint pseudo-width scaled by the factor.
    * Native `filter` over a positions sequence + `substring` per kept
    * byte would be per-element interpreted; instead the kept bytes are
    * assembled in one codegen'd pass via the same mapPartitions seam as
    * [[byteFeatures]], with the ORACLE-facing columns pure functions of
    * exact integers and md5. */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val resized = payloads(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val kept = Array.range(0, b.length, ResizeFactor).map(b(_))
        (id, kept)
      })
      .toDF("doc_id", "resized")
    resized.select(col("doc_id"),
        octet_length(col("resized")).as("NBytesResized"),
        md5(col("resized")).as("ResizedMd5"))
      .withColumn("FakeWidthResized", (col("NBytesResized") % 317) + 1)
      .orderBy(col("doc_id"))
  }

  /** Fixed feature vector from a media payload (byte statistics). */
  case class ByteFeatures(doc_id: Long, n_bytes: Int, min_byte: Int,
                          max_byte: Int, sum_bytes: Long, mean_byte: Double)

  /** Feature extraction in the REAL batched shape: per-partition JVM
    * loop over the payload bytes (`mapPartitions`, same seam as
    * [[decodeMeta]] — a production embedding/feature model plugs in
    * here), exact integer statistics so the DuckDB oracle reproduces
    * them bit-for-bit. */
  def byteFeatures(spark: SparkSession, dir: String): Dataset[ByteFeatures] = {
    import spark.implicits._
    payloads(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        var mn = 256; var mx = -1; var s = 0L
        var i = 0
        while (i < b.length) {
          val v = b(i) & 0xff
          if (v < mn) mn = v
          if (v > mx) mx = v
          s += v
          i += 1
        }
        if (b.isEmpty) ByteFeatures(id, 0, 0, 0, 0L, 0.0)
        else ByteFeatures(id, b.length, mn, mx, s, s.toDouble / b.length)
      })
  }

  /** [[byteFeatures]] as a driver-contract query (oracle-compared). */
  def featuresQuery(spark: SparkSession, dir: String): DataFrame =
    byteFeatures(spark, dir).toDF()
      .select(col("doc_id"), col("n_bytes").as("NBytes"),
        col("min_byte").as("MinByte"), col("max_byte").as("MaxByte"),
        col("sum_bytes").as("SumBytes"), col("mean_byte").as("MeanByte"))
      .orderBy(col("doc_id"))

  /** Oracle-checkable BYTE-level metadata twin: deterministic
    * fingerprint columns (size, first byte, modular pseudo-dimensions)
    * expressed as pure Catalyst expressions so DuckDB reproduces them
    * bit-for-bit. This is deliberately NOT the image decode —
    * `javax.imageio` output is not expressible in an independent SQL
    * engine, so the REAL decode ([[decodeMetaOf]]/[[imageStatsOf]]) is
    * verified in MultimodalSpec against generated PNG/JPEG fixtures
    * with known dimensions and channel statistics, while this twin
    * keeps the driver's hash gate on the byte plumbing. */
  def metaQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      octet_length(col("text")).as("NBytes"),
      ascii(substring(col("text"), 1, 1)).as("FirstByte"))
      .withColumn("FakeWidth", (col("NBytes") % 317) + 1)
      .withColumn("FakeHeight", (col("FirstByte") * 7 % 97) + 1)
      .withColumn("AspectRatio",
        col("FakeWidth").cast(DoubleType) / col("FakeHeight"))
      .orderBy(col("doc_id"))

  // ---------- perceptual-hash near-duplicate detection ----------

  /** aHash layout: 4 bands × 16 bits = the canonical 64-bit average
    * hash, stored band-wise so no engine ever left-shifts into the
    * sign bit (DuckDB raises on `1::BIGINT << 63`; band values stay
    * < 2¹⁶). */
  val AhashBands = 4
  val AhashBandBits = 16
  /** Candidate pairs must land within this Hamming distance to be
    * reported. With 4 bands, any pair at distance ≤ 3 is GUARANTEED a
    * shared band (pigeonhole); beyond that discovery is probabilistic
    * exactly like MinHash banding — declared recall semantics, mirrored
    * identically by the oracle. */
  val AhashMaxHamming = 10
  /** Hot-bucket cap (the MinHash hot-band discipline): a band bucket
    * larger than this is skipped for candidate generation — a
    * degenerate band value (e.g. all-dark images hashing to 0) would
    * otherwise quadratically explode one reducer at corpus scale. */
  val AhashBucketCap = 64

  /** PERCEPTUAL-HASH NEAR-DUP over the binary payload column — the
    * image analog of MinHash text dedup, the dedup pass a multimodal
    * training pipeline runs over its image shards. Byte-level twin of
    * the real decode (the [[metaQuery]] honesty pattern): the "8×8
    * grayscale downsample" samples 64 evenly-spaced payload bytes
    * (pixel positions never shift in a fixed-raster image, so
    * positional sampling IS the honest fake); bit i = sample_i > mean
    * (integer mean, floor). The REAL pixel kernel — block means over
    * the decoded raster with cross-multiplied integer thresholding —
    * is [[ahashOf]], verified on generated PNG fixtures in
    * MultimodalSpec; this twin keeps the driver's hash gate on the
    * Spark-side plumbing: band explode, hot-capped bucket self-join,
    * XOR/bit_count verify.
    *
    * Scale shape: ONE narrow corpus pass builds the hashes
    * (localCheckpoint-pinned — the three downstream references read
    * materialized 4-int rows, not re-scans), a (band, value)-keyed
    * window for the cap, a bucket-bounded self-join (never all-pairs
    * — candidate volume is Σ bucket², capped), then a
    * |candidates|-sized hash join + bit_count verify. The exact
    * minhash/banding geometry, on binary payloads.
    *
    * Evaluation-structure history (the lesson this query paid 89 s at
    * sf0.1 to learn, preserved because it is a general Catalyst rule):
    * the hash was first a declarative HOF pipeline, and a naive
    * `withColumn("S", …).withColumn("M", f(S)).withColumn("BV",
    * g(S, M))` chain is collapsed by Catalyst's CollapseProject into
    * ONE projection that textually inlines S into every one of BV's
    * 64 bit-tests (and M's inlined copy re-inlines S again) — and
    * higher-order functions evaluate INTERPRETED, so the O(len)
    * sample extraction ran ~128× per doc. Let-binding each stage as a
    * lambda variable stopped the re-inlining; the hash now rides the
    * native codegen'd `ahash_bands` expression instead (one JVM loop
    * per row, whole-stage codegen — the house route for scalar work,
    * value-identical by the unchanged DuckDB mirror). */
  def ahashNeardup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // documentsSpread = the PINNED-count spread (AQE's byte-based
    // coalescer would collapse an unpinned repartition(doc_id) to ONE
    // partition and serialize this per-row-expensive pass — measured
    // 8.5 s vs 0.6 s; rule + guard pointers on Tables.documentsSpread)
    val base = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), expr("ahash_bands(text)").as("BV"))
      .localCheckpoint()
    val bx = base.select(col("doc_id"),
      posexplode(col("BV")).as(Seq("B", "V")))
    val cool = bx
      .withColumn("BS", count(lit(1)).over(Window.partitionBy(col("B"), col("V"))))
      .filter(col("BS") <= AhashBucketCap)
    val cand = cool.as("a").join(cool.as("c"),
        col("a.B") === col("c.B") && col("a.V") === col("c.V") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("IdA"), col("c.doc_id").as("IdB"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("IdA"), col("BV").as("BVA")), "IdA")
      .join(base.select(col("doc_id").as("IdB"), col("BV").as("BVB")), "IdB")
      .withColumn("Hamming", expr(
        "aggregate(zip_with(BVA, BVB, (x, y) -> bit_count(x ^ y)), 0, (a, v) -> a + v)")
        .cast(IntegerType))
      .filter(col("Hamming") <= AhashMaxHamming)
      .select(col("IdA"), col("IdB"), col("Hamming"))
      .orderBy(col("IdA"), col("IdB"))
  }

  /** pHash DCT-basis fixed-point scale (2¹⁴). */
  val PhashDctScale = 16384L
  /** The 8×8 DCT-II basis, row-major: round(2¹⁴·cos((2j+1)·i·π/16)).
    * Computed ONCE on the driver and interpolated as literals into
    * both the Spark expression and the DuckDB mirror, so cross-engine
    * parity is by construction, not by trusting two cos()
    * implementations. StrictMath.cos, not math.cos: java.lang.Math
    * may bind to a platform libm whose 1-ulp differences near a
    * rounding boundary would silently change every pHash on another
    * JVM/host; StrictMath is specified bit-identical everywhere (the
    * 64 values round identically on this box — no angle lands near a
    * .5 tie, the nearest fraction is < 0.499). For every AC row
    * (i ≥ 1) the 8 rounded entries sum to EXACTLY 0 (the angles pair
    * into exact negations — asserted in MultimodalSpec), which is
    * what makes the hash exactly invariant to a uniform brightness
    * shift: a constant added to all 64 samples perturbs only the DC
    * coefficient, which pHash discards. */
  lazy val PhashDctBasis: Seq[Long] =
    for (i <- 0 until 8; j <- 0 until 8)
      yield math.round(PhashDctScale * StrictMath.cos((2 * j + 1) * i * math.Pi / 16.0))
  /** [[PhashDctBasis]] as a flat array for the native kernel's inner
    * loop ([[graft.functions.ExprKernels.phashBands]]). */
  lazy val PhashDctBasisArr: Array[Long] = PhashDctBasis.toArray
  /** "Close pair" Hamming ceiling for the [[phashNeardup]] IsClose
    * verdict. Unlike [[ahashNeardup]], the query reports EVERY capped
    * band-candidate with its spectral distance rather than dropping
    * pairs past the ceiling: pHash bits are median-centered (≈ fair
    * coins for unrelated inputs), so on a corpus with no true image
    * near-dups the thresholded set is legitimately EMPTY — the
    * candidate report keeps the gate non-vacuous while the verdict
    * column carries the threshold semantics. */
  val PhashMaxHamming = 10

  /** pHash NEAR-DUP — the DCT perceptual hash next to [[ahashNeardup]]:
    * where aHash thresholds raw samples against their mean (and so
    * flips wholesale under contrast changes), pHash transforms the
    * same 8×8 sample grid into the frequency domain and keeps the
    * SHAPE spectrum — each of the 63 AC coefficients thresholded
    * against their median, making the hash exactly invariant to
    * uniform brightness shifts (see [[PhashDctBasis]]) and robust to
    * smooth global gradients. Same byte-level proxy signal as aHash
    * (the decode honesty pattern — the real-raster kernel seam is
    * [[ahashOf]]'s mapPartitions shape), same band-bucket candidate
    * join, hot-bucket cap and Hamming verify.
    *
    * Exactness: the DCT is pure integer — basis entries are driver-
    * rounded literals, T[k] = Σ_m c(u,i)·c(v,j)·S[m] ≤ 2²⁸·255·64
    * ≈ 2⁴² (long-safe), the median is the 32nd order statistic of 63
    * exact integers, and every bit is an integer comparison. Bit k
    * lands in band k div 16 (band 3 carries 15 bits — 63 AC bits
    * total), so no shift ever reaches a sign bit.
    *
    * Scale shape: identical to [[ahashNeardup]] — ONE narrow corpus
    * pass computes the 4096-multiply DCT per doc (fixed cost per row,
    * no shuffle) via the native codegen'd `phash_bands` expression
    * (the interpreted HOF DCT was the multimodal family's worst
    * decade exponent, α 0.51, even after the round-10 let-binding fix
    * — ExprKernels.phashBands is the same arithmetic as one primitive
    * loop per row), localCheckpoint-pinned, then the banded-LSH join
    * with the [[AhashBucketCap]] hot-bucket guard bounds pair
    * volume. */
  def phashNeardup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned spread: see ahashNeardup's AQE-coalesce note
    val base = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), expr("phash_bands(text)").as("BV"))
      .localCheckpoint()
    val bx = base.select(col("doc_id"),
      posexplode(col("BV")).as(Seq("B", "V")))
    val cool = bx
      .withColumn("BS", count(lit(1)).over(Window.partitionBy(col("B"), col("V"))))
      .filter(col("BS") <= AhashBucketCap)
    val cand = cool.as("a").join(cool.as("c"),
        col("a.B") === col("c.B") && col("a.V") === col("c.V") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("IdA"), col("c.doc_id").as("IdB"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("IdA"), col("BV").as("BVA")), "IdA")
      .join(base.select(col("doc_id").as("IdB"), col("BV").as("BVB")), "IdB")
      .withColumn("Hamming", expr(
        "aggregate(zip_with(BVA, BVB, (x, y) -> bit_count(x ^ y)), 0, (a, v) -> a + v)")
        .cast(IntegerType))
      .withColumn("IsClose", col("Hamming") <= PhashMaxHamming)
      .select(col("IdA"), col("IdB"), col("Hamming"), col("IsClose"))
      .orderBy(col("IdA"), col("IdB"))
  }

  /** "Close pair" Hamming ceiling for [[audioFingerprint]]'s IsClose
    * verdict (the [[PhashMaxHamming]] candidate-report discipline). */
  val AudioMaxHamming = 10

  /** AUDIO FINGERPRINT NEAR-DUP — the energy-difference fingerprint
    * (Haitsma & Kalker, "A Highly Robust Audio Fingerprinting
    * System", ISMIR 2002) as the audio-modality member of the
    * perceptual-hash family: 256 evenly-spaced payload bytes → 64
    * frames of 4 samples → frame energies E_f = Σ s² → 63 bits of
    * b_f = (E_{f+1} > E_f). Because every bit is a COMPARISON of
    * energies, the hash is exactly invariant under any monotone gain
    * change (volume scaling — the audio analog of pHash's
    * brightness-shift invariance, asserted in MultimodalSpec); the
    * real-decode seam is [[audioStatsOf]]'s mapPartitions shape (the
    * metaQuery honesty pattern), this byte twin keeps the gate on
    * Spark-side plumbing.
    *
    * Exactness: energies ≤ 4·255² are small integers, bits are
    * integer comparisons, banding is [[AhashBands]]×16 (last band 15
    * bits — no sign-bit shifts). The hash rides the native codegen'd
    * `audiofp_bands` expression with the partition count pinned (the
    * two round-10 lessons, both now structural); hash table
    * localCheckpoint-pinned before the banded-LSH join with the
    * [[AhashBucketCap]] hot-bucket guard; candidates reported with
    * the [[AudioMaxHamming]] IsClose verdict (unthresholded report —
    * the pHash non-vacuous-gate discipline). */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned spread: see ahashNeardup's AQE-coalesce note
    val base = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), expr("audiofp_bands(text)").as("BV"))
      .localCheckpoint()
    val bx = base.select(col("doc_id"),
      posexplode(col("BV")).as(Seq("B", "V")))
    val cool = bx
      .withColumn("BS", count(lit(1)).over(Window.partitionBy(col("B"), col("V"))))
      .filter(col("BS") <= AhashBucketCap)
    val cand = cool.as("a").join(cool.as("c"),
        col("a.B") === col("c.B") && col("a.V") === col("c.V") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("IdA"), col("c.doc_id").as("IdB"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("IdA"), col("BV").as("BVA")), "IdA")
      .join(base.select(col("doc_id").as("IdB"), col("BV").as("BVB")), "IdB")
      .withColumn("Hamming", expr(
        "aggregate(zip_with(BVA, BVB, (x, y) -> bit_count(x ^ y)), 0, (a, v) -> a + v)")
        .cast(IntegerType))
      .withColumn("IsClose", col("Hamming") <= AudioMaxHamming)
      .select(col("IdA"), col("IdB"), col("Hamming"), col("IsClose"))
      .orderBy(col("IdA"), col("IdB"))
  }

  /** A decoded payload's 64-bit average hash, band-wise ([[AhashBands]]
    * ints of [[AhashBandBits]] bits); `ok = false` (hash all-zero) for
    * payloads no image reader accepts. */
  case class AHash(doc_id: Long, ok: Boolean, bands: Seq[Int])

  /** REAL aHash over the decoded raster: luminance block means on an
    * 8×8 grid, each cell's bit set when its block mean exceeds the
    * global mean — all comparisons cross-multiplied in longs
    * (blockSum·totalPixels > totalSum·blockPixels), so the kernel is
    * integer-exact and scale-invariant: a downscaled copy with the
    * same block structure hashes identically. Same mapPartitions
    * decode seam as [[imageStatsOf]]. */
  def ahashOf(payloads: Dataset[(Long, Array[Byte])]): Dataset[AHash] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map { case (id, bytes) =>
      readImage(bytes) match {
        case None => AHash(id, ok = false, Seq.fill(AhashBands)(0))
        case Some((img, _)) =>
          val raster = img.getRaster
          val (w, h, nb) = (img.getWidth, img.getHeight, raster.getNumBands)
          val blockSum = Array.ofDim[Long](8, 8)
          val blockPix = Array.ofDim[Long](8, 8)
          var y = 0
          while (y < h) {
            val gy = (y.toLong * 8 / h).toInt
            var x = 0
            while (x < w) {
              val gx = (x.toLong * 8 / w).toInt
              var lum = 0L
              var b = 0
              while (b < nb) { lum += raster.getSample(x, y, b); b += 1 }
              blockSum(gy)(gx) += lum
              blockPix(gy)(gx) += nb
              x += 1
            }
            y += 1
          }
          val totalSum = blockSum.map(_.sum).sum
          val totalPix = blockPix.map(_.sum).sum
          val bands = Array.fill(AhashBands)(0)
          var i = 0
          while (i < 64) {
            val (gy, gx) = (i / 8, i % 8)
            // block mean > global mean, exactly: s/p > S/P  ⇔  s·P > S·p —
            // the 64 comparisons promote to BigInt (s·P nears the int64
            // ceiling around 22k×22k×3-channel images; 64 BigInt
            // multiplies per image are free next to the pixel loop)
            if (blockPix(gy)(gx) > 0 &&
                BigInt(blockSum(gy)(gx)) * totalPix > BigInt(totalSum) * blockPix(gy)(gx))
              bands(i / AhashBandBits) |= 1 << (i % AhashBandBits)
            i += 1
          }
          AHash(id, ok = true, bands.toSeq)
      }
    })
  }
}
