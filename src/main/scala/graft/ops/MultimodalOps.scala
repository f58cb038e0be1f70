package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata, with feature extraction staged behind a per-partition
  * batch boundary, and the perceptual-hash near-dup family.
  *
  * Every query here is a BYTE-level twin of a media operator (frame
  * sampling, resize, metadata, aHash/pHash/audio fingerprints): its
  * columns are pure functions of the payload bytes, so the DuckDB
  * oracle reproduces them bit-for-bit. Per-row work runs inside
  * `mapPartitions` or a codegen'd native expression — the JVM analog
  * of arrow-batched decode UDFs: batch iteration per partition, fixed
  * output schema, no driver round-trips.
  *
  * Scale: every pass is embarrassingly parallel, one pass, no shuffle
  * before the band joins; the byte payloads are projected only where
  * needed (binary column pruning), and partition sizing is inherited
  * from the parquet reader (`maxPartitionBytes`), so batches stay
  * memory-bounded.
  */
object MultimodalOps {

  /** Documents' text bytes treated as opaque binary payloads.
    *
    * Pinned-spread audit exemption (deliberate, recorded): unlike the
    * hash passes below, the feature consumers of this frame do
    * NOT get a `documentsSpread` repartition. Shuffling the opaque
    * payload BYTES purely to parallelize the local single-file gate
    * would contradict the operators' declared scale shape — at real
    * scale the parquet reader already yields many memory-bounded
    * splits (`maxPartitionBytes`) and the features inherit them with
    * zero shuffle; the gate queries on this seam (features/frames/resize)
    * measure ≤ 0.5 s at sf0.1 without it (BENCH_LOCAL), so there is
    * no AQE-collapse tax to fix here. */
  def payloads(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))

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
    * loop over the payload bytes (`mapPartitions` — a production
    * embedding/feature model plugs in here), exact integer statistics
    * so the DuckDB oracle reproduces them bit-for-bit. */
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
    * bit-for-bit. This is deliberately NOT an image decode — decoder
    * output is not expressible in an independent SQL engine, so the
    * twin keeps the driver's hash gate on the byte plumbing. */
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
    * an image decode (the [[metaQuery]] honesty pattern): the "8×8
    * grayscale downsample" samples 64 evenly-spaced payload bytes
    * (pixel positions never shift in a fixed-raster image, so
    * positional sampling IS the honest fake); bit i = sample_i > mean
    * (integer mean, floor). The twin keeps the driver's hash gate on
    * the Spark-side plumbing: band explode, hot-capped bucket
    * self-join, XOR/bit_count verify.
    *
    * Scale shape: the [[bandedHamming]] kernel — ONE narrow corpus
    * pass builds the hashes, and candidate volume is Σ bucket²,
    * capped. The exact minhash/banding geometry, on binary payloads.
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
  def ahashNeardup(spark: SparkSession, dir: String): DataFrame =
    bandedHamming(spark, dir, "ahash_bands(text)")
      .filter(col("Hamming") <= AhashMaxHamming)
      .orderBy(col("IdA"), col("IdB"))

  /** The banded-Hamming kernel of the perceptual-hash family: one
    * narrow corpus pass computes each doc's band array with `bands`
    * (a native codegen'd expression over `text`), pinned so the three
    * downstream references read materialized rows, not re-scans; then
    * a (band, value)-keyed window for the [[AhashBucketCap]] hot-bucket
    * guard, a bucket-bounded self-join (never all-pairs), and a
    * |candidates|-sized hash join + bit_count verify. Returns every
    * capped band candidate (IdA < IdB) with its Hamming distance. The
    * pin is a lineage cut the returned plan reads (corpus-linear). */
  private def bandedHamming(spark: SparkSession, dir: String, bands: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // documentsSpread = the PINNED-count spread (AQE's byte-based
    // coalescer would collapse an unpinned repartition(doc_id) to ONE
    // partition and serialize this per-row-expensive pass — measured
    // 8.5 s vs 0.6 s; rule + guard pointers on Tables.documentsSpread)
    val base = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), expr(bands).as("BV"))
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
      .select(col("IdA"), col("IdB"), col("Hamming"))
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
    * (the [[metaQuery]] honesty pattern), same band-bucket candidate
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
    * loop per row), then [[bandedHamming]]'s banded-LSH join with the
    * [[AhashBucketCap]] hot-bucket guard bounds pair volume. */
  def phashNeardup(spark: SparkSession, dir: String): DataFrame =
    bandedHamming(spark, dir, "phash_bands(text)")
      .withColumn("IsClose", col("Hamming") <= PhashMaxHamming)
      .orderBy(col("IdA"), col("IdB"))

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
    * byte twin (the [[metaQuery]] honesty pattern) keeps the gate on
    * Spark-side plumbing.
    *
    * Exactness: energies ≤ 4·255² are small integers, bits are
    * integer comparisons, banding is [[AhashBands]]×16 (last band 15
    * bits — no sign-bit shifts). The hash rides the native codegen'd
    * `audiofp_bands` expression with the partition count pinned (the
    * two round-10 lessons, both now structural); [[bandedHamming]]'s
    * banded-LSH join with the [[AhashBucketCap]] hot-bucket guard;
    * candidates reported with
    * the [[AudioMaxHamming]] IsClose verdict (unthresholded report —
    * the pHash non-vacuous-gate discipline). */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame =
    bandedHamming(spark, dir, "audiofp_bands(text)")
      .withColumn("IsClose", col("Hamming") <= AudioMaxHamming)
      .orderBy(col("IdA"), col("IdB"))
}
