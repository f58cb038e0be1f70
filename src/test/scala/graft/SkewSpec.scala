package graft

import graft.ops.RelationalOps

/** Skew hardening: hot LSH / sign-LSH / chunk-hash buckets are capped
  * out of candidate blocking, the attribution pair-volume guard fails
  * a density-pathological corpus at estimate time, and the salted
  * join splits hot keys with results identical to the plain join. */
class SkewSpec extends SparkSpec {

  test("hot LSH band buckets are excluded from blocking; the real corpus never hits the cap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted frame: one normal bucket (4 docs → 6 pairs) and one
    // boilerplate bucket whose occupancy blows past the cap — the k²
    // candidate blowup the cap exists to prevent
    val hotK = graft.ops.DedupOps.HotBandMaxOccupancy + 50
    val exploded = (
      (1L to 4L).map(i => (i, 1, "nx")) ++
        (1000L until (1000L + hotK)).map(i => (i, 2, "HOT"))
      ).toDF("doc_id", "band_id", "band_val")
    val pairs = graft.ops.DedupOps.candidatePairsFrom(exploded)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // bounded candidate volume: the hot bucket contributes NOTHING
    // (k(k-1)/2 would be ~47k pairs); the normal bucket is untouched
    assert(pairs.length === 6, s"got ${pairs.length} candidates")
    assert(pairs.forall { case (a, b) => a < 1000L && b < 1000L })
    assert(pairs.toSet === (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toSet)

    // a bucket AT the cap still blocks (boundary inclusive)
    val atCap = (1L to graft.ops.DedupOps.HotBandMaxOccupancy.toLong)
      .map(i => (i, 1, "edge")).toDF("doc_id", "band_id", "band_val")
    val n = graft.ops.DedupOps.HotBandMaxOccupancy.toLong
    assert(graft.ops.DedupOps.candidatePairsFrom(atCap).count() === n * (n - 1) / 2)

    // premise that keeps the production corpus' verified pairs
    // unchanged: its max band occupancy sits far below the cap
    val bands = graft.ops.DedupOps.minhashBands(spark, sfDir)
    val maxOcc = (1 to 4).map { b =>
      bands.groupBy(col(s"B$b")).count()
        .agg(max(col("count"))).head().getLong(0)
    }.max
    assert(maxOcc <= graft.ops.DedupOps.HotBandMaxOccupancy / 4,
      s"corpus max band occupancy $maxOcc is within 4x of the cap — re-tune HotBandMaxOccupancy")
  }

  test("boilerplate chunk hashes are excluded from the containment join; real corpus stays under the cap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted corpus: a 10-doc flood of IDENTICAL text (every chunk
    // hash occupancy 10) + one near-dup pair in its own content region
    val tmp = tempDir("graft_chunk_hot")
    val boiler = (0 until 6).map(i => s"template header $i block " * 4).mkString(" ")
    val pairTxt = ("unique copied paragraph alpha beta gamma " * 12)
    // a second pair that is identical IN CONTENT but mostly
    // boilerplate: its shared signal lives in the few non-template
    // chunks, so a denominator that still counted the capped template
    // chunks would dilute its containment below threshold
    val mixedTxt = boiler + " rare sentinel tail delta epsilon"
    val rows =
      (100L to 109L).map(i => (i, boiler, "en", "t", boiler.length.toLong)) ++
        Seq((1L, pairTxt, "en", "p", pairTxt.length.toLong),
          (2L, pairTxt, "en", "p", pairTxt.length.toLong),
          (201L, mixedTxt, "en", "m", mixedTxt.length.toLong),
          (202L, mixedTxt, "en", "m", mixedTxt.length.toLong))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // capped: the flood contributes NOTHING, the below-cap pair
    // survives with full containment, and the boilerplate-heavy pair
    // is STILL found at full containment because the denominators
    // count only the below-cap chunk universe (its template chunks —
    // occupancy 12 > 4 — vanish from numerator AND denominator)
    val capped = graft.ops.DedupOps.chunkOverlap(spark, tmp.toString, cap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(capped.map(t => (t._1, t._2)).toSeq === Seq((1L, 2L), (201L, 202L)),
      s"got ${capped.toSeq}")
    capped.foreach { case (_, _, frac) => assert(frac === 1.0, s"got $frac") }
    // at the default cap the same fixture pairs the flood too — the
    // cap, not content, is what bounded the volume above (45 flood
    // pairs + flood-vs-mixed cross pairs + the two planted pairs)
    val uncapped = graft.ops.DedupOps.chunkOverlap(spark, tmp.toString).count()
    assert(uncapped >= 45L + 2L, s"got $uncapped")
    // premise that keeps the production corpus' pairs unchanged: its
    // max chunk occupancy sits far below the cap
    val maxOcc = graft.ops.DedupOps.docChunks(spark, sfDir)
      .select(explode(col("Chs")).as("H"))
      .groupBy(col("H")).count().agg(max(col("count"))).head().getLong(0)
    assert(maxOcc <= graft.ops.TextOps.HotChunkMaxOccupancy / 4,
      s"corpus max chunk occupancy $maxOcc is within 4x of the cap — re-tune HotChunkMaxOccupancy")
  }

  // sf0.01: at sf0.001 the hot partition compresses under any sane
  // skew threshold; 60K rows make the skew physically visible.
  private val skewDir = "/root/testdata/sf0.01"

  test("hot sign-LSH buckets are excluded from embedding near-dup blocking") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ops.SimilarityOps
    // planted corpus: a flood of identical vectors (every bucket they
    // occupy blows past the cap) + one near-dup pair in its own region
    val tmp = tempDir("graft_lsh_hot").toAbsolutePath
    val hotK = SimilarityOps.HotBucketMaxOccupancy + 44
    val base = Array.tabulate(64)(i => 0.5f + 0.001f * i)
    val other = Array.tabulate(64)(i => if (i % 2 == 0) -0.9f else 0.8f)
    val nearDup = other.clone(); nearDup(0) = other(0) + 0.001f
    val rows =
      (0 until hotK).map(i => (i.toLong, base.toSeq, 1)) ++
        Seq((9000L, other.toSeq, 2), (9001L, nearDup.toSeq, 2))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // bounded candidate volume: the flood contributes nothing (it
    // would be hotK*(hotK-1)/2 ≈ 45k pairs); only the cool pair blocks
    val nCand = SimilarityOps.lshCandidateCount(spark, tmp.toString,
      SimilarityOps.DefaultBands, SimilarityOps.DefaultPlanesPerBand)
    assert(nCand < 10L, s"hot bucket not excluded: $nCand candidates")
    val pairs = SimilarityOps.lshNeardup(spark, tmp.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((9000L, 9001L)), "cool-bucket near-dup pair lost")
    assert(pairs.forall { case (a, b) => a >= 9000L && b >= 9000L },
      "flood pairs leaked through the cap")
  }

  test("attribution pair-volume guard: a density-pathological corpus fails at estimate time; the real corpus passes with headroom") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted dense corpus: ONE user, 2000 views + 2000 clicks packed
    // inside a single attribution window — the interval join would
    // write ~2M pairs (the quadratic risk the guard exists for).
    // Timestamps all inside one hour, so window/span fraction = 1 and
    // the estimate equals the worst case.
    val n = 2000
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val rows = (0 until n).map(i =>
        (i.toLong, base + i * 1000L, 7L, "view", 1.0, "{}")) ++
      (0 until n).map(i =>
        ((n + i).toLong, base + 500L + i * 1000L, 7L, "click", 1.0, "{}"))
    val dir = tempDir("graft_attr_guard")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    try {
      val ex = intercept[IllegalArgumentException] {
        graft.ops.EventsOps.clickAttribution(spark, dir.toString,
          maxEstPairs = 100000L)
      }
      assert(ex.getMessage.contains("pair volume"),
        s"guard tripped with the wrong message: ${ex.getMessage}")
      // the same corpus under a permissive cap still computes correctly
      // (every view precedes 1999-2000 clicks within the window)
      val ok = graft.ops.EventsOps.clickAttribution(spark, dir.toString,
        maxEstPairs = 10000000L).collect()
      assert(ok.length === 1 && ok.head.getAs[Long]("Pairs") > 1000000L)
    } finally {
      import scala.jdk.CollectionConverters._
      graft.etl.Tables.forgetTsEncoding(dir.toString)
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
    // the real fixture sits ≥10× under the default cap — the guard
    // never perturbs a legitimate corpus
    graft.ops.EventsOps.clickAttribution(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
  }

  test("salted join: identical to the plain join, no broadcast, salt in the keys") {
    import org.apache.spark.sql.functions._
    val salted = RelationalOps.skewSaltedJoin(spark, skewDir)
    val rows = salted.collect()
    val plan = salted.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    // assert on the query's own operators only: the cleaned-corpus
    // cache (InMemoryRelation) embeds its OWN build plan — including
    // the star join's legitimate broadcasts — in the plan string
    val own = plan.split("InMemoryRelation").head
    assert(!own.contains("BroadcastHashJoin"),
      s"dim side was broadcast — the salted path must model the fat-dim shape:\n$own")
    val shjLine = own.linesIterator.find(_.contains("ShuffledHashJoin"))
    assert(shjLine.nonEmpty, s"expected a shuffled hash join:\n$own")
    assert(shjLine.get.contains("salt"), s"join keys carry no salt: ${shjLine.get}")

    // plain unsalted mirror built inline — values must be identical
    val sales = graft.etl.Transactions.cleaned(spark, skewDir)
      .filter(!col("IsCancelled"))
      .select(col("Country"), col("CustomerID"), col("TotalAmount"))
    val dec = org.apache.spark.sql.types.DecimalType(18, 4)
    val dim = sales.groupBy(col("Country"))
      .agg(sum(col("TotalAmount").cast(dec)).as("CountryRevDec"))
    val plain = sales.join(dim, Seq("Country"))
      .groupBy(col("Country"), col("CustomerID"))
      .agg(sum(col("TotalAmount").cast(dec)).as("CustRevDec"),
        max(col("CountryRevDec")).as("CRev"))
      .select(col("Country"), col("CustomerID"),
        col("CustRevDec").cast("double").as("CustRevenue"),
        (col("CustRevDec").cast("double") / col("CRev").cast("double")).as("CountryShare"))
      .orderBy(col("Country"), col("CustomerID"))
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.toSeq).toSeq === plain.map(_.toSeq).toSeq,
      "salted join changed results vs the plain join")

    // the split bound salting exists for: every hot key fans out into
    // sub-keys strictly smaller than the unsalted hot key
    val perKey = sales.groupBy(col("Country")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hottest = perKey.maxBy(_._2)
    val perSub = sales
      .withColumn("salt", pmod(hash(col("CustomerID")), lit(RelationalOps.SaltBuckets)))
      .groupBy(col("Country"), col("salt")).count()
      .filter(col("Country") === hottest._1)
      .agg(max(col("count"))).head().getLong(0)
    assert(perSub < hottest._2,
      s"salting did not split the hottest key: $perSub vs ${hottest._2}")
    assert(perSub <= hottest._2 / (RelationalOps.SaltBuckets / 4),
      s"salt distribution badly unbalanced: max sub-key $perSub of ${hottest._2} total")
  }
}
