package graft

import org.apache.spark.sql.functions._

import graft.ops.{CurateOps, TextOps}

/** Invariant + planted-fixture tests for the round-5 curation/text
  * extensions: decontamination, stratified sampling, repetition
  * filter, TF-IDF, PII redaction. (Exact-value parity vs DuckDB is
  * covered by the Verify/compare harness.) */
class CurateTextSpec extends SparkSpec {

  /** The Scala-side twin of CurateOps.hashBucket, for picking fixture
    * ids that land in a wanted split deterministically. */
  private def bucket(id: Long, salt: String = ""): Int =
    java.security.MessageDigest.getInstance("MD5")
      .digest((salt + id.toString).getBytes("UTF-8"))(0) & 0xff

  private def split(id: Long): String = {
    val b = bucket(id)
    if (b < CurateOps.TrainUpper) "train"
    else if (b < CurateOps.ValUpper) "val"
    else "test"
  }

  /** Write a documents.parquet fixture into a temp dir Tables can read. */
  private def docsFixture(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-docs").toString
    rows.map { case (id, text, lang) => (id, text, lang, "fix", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("decontaminate: planted eval overlap is flagged, disjoint train docs are not") {
    val evalId = (0L to 2000L).find(split(_) == "test").get
    val trainIds = (0L to 2000L).filter(split(_) == "train")
    val (dirty, clean, partial) = (trainIds(0), trainIds(1), trainIds(2))
    val dir = docsFixture(Seq(
      (evalId, "alpha beta gamma delta", "en"),
      // shares the full shingle set with the eval doc
      (dirty, "alpha beta gamma delta", "en"),
      // shares exactly ONE trigram ("alpha beta gamma")
      (partial, "zig zag alpha beta gamma", "en"),
      (clean, "totally different words here now", "en")))
    val got = CurateOps.decontaminate(spark, dir, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("NEvalDocs"), r.getAs[Int]("NSharedShingles"),
          r.getAs[Boolean]("IsContaminated")))).toMap
    assert(got.keySet === Set(dirty, clean, partial), "output must be exactly the train split")
    assert(got(dirty) === ((1, 2, true)))
    assert(got(partial) === ((1, 1, true)))
    assert(got(clean) === ((0, 0, false)))
  }

  test("decontaminate: 8-gram default only flags 8-token runs (3-gram collisions pass)") {
    val evalId = (0L to 2000L).find(split(_) == "test").get
    val trainIds = (0L to 2000L).filter(split(_) == "train")
    val (dirty, collides3) = (trainIds(0), trainIds(1))
    val run = "one two three four five six seven eight nine"
    val dir = docsFixture(Seq(
      (evalId, run, "en"),
      // shares the full 9-token run → two 8-gram shingles
      (dirty, s"prefix words $run", "en"),
      // shares a trigram ("one two three") but no 8-token window —
      // exactly the common-phrase collision the wider default ignores
      (collides3, "one two three unrelated tail of words entirely", "en")))
    assert(CurateOps.DecontaminationShingleN === 8)
    val got = CurateOps.decontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("NSharedShingles"), r.getAs[Boolean]("IsContaminated")))).toMap
    assert(got(dirty) === ((2, true)))
    assert(got(collides3) === ((0, false)))
    // the same fixture at n=3 flags BOTH — the over-flagging the
    // wider default exists to avoid
    val at3 = CurateOps.decontaminate(spark, dir, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("IsContaminated")).toMap
    assert(at3(dirty) && at3(collides3))
  }

  test("decontamination substrate carries int64 shingle keys, not strings") {
    // the wide-window shingle substrate must cross every exchange as
    // xxhash64 longs (shinglesAt's round-12 contract — the x100 decade
    // measured the string-keyed join as the leakage card's dominant
    // term); the mirrors stay on strings, so gate hash-matches also
    // certify collision-freedom at gate scale
    val sch = CurateOps.evalShingles(spark, sfDir).schema
    assert(sch("Shingle").dataType === org.apache.spark.sql.types.LongType)
  }

  test("decontaminate: covers every train doc exactly once on the real corpus") {
    val rows = CurateOps.decontaminate(spark, sfDir).collect()
    val trainIds = CurateOps.splitAssign(spark, sfDir)
      .filter(col("Split") === "train").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === trainIds)
    assert(rows.length === trainIds.size)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("IsContaminated") ===
        (r.getAs[Int]("NSharedShingles") >= CurateOps.ContaminationMinShingles))
      assert((r.getAs[Int]("NEvalDocs") > 0) === (r.getAs[Int]("NSharedShingles") > 0))
    }
  }

  test("sample_stratified: minority languages all kept, en near its threshold fraction, stable") {
    val rows = CurateOps.sampleStratified(spark, sfDir).collect()
    assert(rows.length === 500)
    val thresholds = CurateOps.SampleThresholds.toMap
    rows.foreach { r =>
      val t = thresholds.getOrElse(r.getAs[String]("lang"), CurateOps.SampleDefaultThreshold)
      assert(r.getAs[Boolean]("IsSampled") === (r.getAs[Int]("SampleBucket") < t))
      assert(r.getAs[Int]("SampleBucket") === bucket(r.getAs[Long]("doc_id"), "sample|"))
    }
    val en = rows.filter(_.getAs[String]("lang") == "en")
    val enKept = en.count(_.getAs[Boolean]("IsSampled")).toDouble / en.length
    val want = thresholds("en") / 256.0
    assert(math.abs(enKept - want) < 0.15, s"en kept $enKept, want ~$want")
    val minority = rows.filter(r => !thresholds.contains(r.getAs[String]("lang")))
    assert(minority.nonEmpty && minority.forall(_.getAs[Boolean]("IsSampled")))
  }

  test("repetition: hand-computed fixture values, corpus flags are consistent") {
    val dir = docsFixture(Seq(
      (1L, "a a a b", "en"),       // bigrams: "a a","a a","a b" -> dup 1/3; top tok 3/4
      (2L, "w x y z", "en"),       // no dup bigrams; top 1/4
      (3L, "solo", "en")))         // 1 token: zero bigrams -> frac 0.0
    val got = TextOps.repetition(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Int]("NBigrams") === 3)
    assert(got(1L).getAs[Int]("NDistinctBigrams") === 2)
    assert(math.abs(got(1L).getAs[Double]("DupBigramFrac") - 1.0 / 3) < 1e-15)
    assert(got(1L).getAs[Int]("TopTokenCount") === 3)
    assert(got(1L).getAs[Boolean]("IsRepetitive"))
    assert(got(2L).getAs[Double]("DupBigramFrac") === 0.0)
    assert(got(2L).getAs[Boolean]("IsRepetitive") === (0.25 > TextOps.MaxTopTokenFrac))
    assert(got(3L).getAs[Int]("NBigrams") === 0)
    assert(got(3L).getAs[Double]("DupBigramFrac") === 0.0)
    val corpus = TextOps.repetition(spark, sfDir).collect()
    assert(corpus.length === 500)
    corpus.foreach { r =>
      assert(r.getAs[Boolean]("IsRepetitive") ===
        (r.getAs[Double]("DupBigramFrac") > TextOps.MaxDupBigramFrac ||
          r.getAs[Double]("TopTokenFrac") > TextOps.MaxTopTokenFrac))
    }
  }

  test("tfidf: per-doc top-k, scores non-increasing, df/tf recomputable on a fixture") {
    val dir = docsFixture(Seq(
      (1L, "apple apple banana", "en"),
      (2L, "banana cherry", "en"),
      (3L, "cherry cherry cherry durian", "en")))
    val rows = TextOps.tfidf(spark, dir).collect()
    // df: apple 1, banana 2, cherry 2, durian 1; N = 3
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc(1L).map(r => (r.getAs[String]("Token"), r.getAs[Int]("Tf"),
      r.getAs[Int]("Df"))).toSet === Set(("apple", 2, 1), ("banana", 1, 2)))
    // doc 1: apple 2*3/1=6 > banana 1*3/2=1.5
    val d1 = byDoc(1L).sortBy(_.getAs[Int]("Rank"))
    assert(d1.map(_.getAs[String]("Token")).toSeq === Seq("apple", "banana"))
    assert(d1.map(_.getAs[Double]("Score")).toSeq === Seq(6.0, 1.5))
    byDoc.values.foreach { rs =>
      assert(rs.length <= TextOps.TfidfTopK)
      val byRank = rs.sortBy(_.getAs[Int]("Rank"))
      assert(byRank.map(_.getAs[Int]("Rank")).toSeq === (1 to rs.length))
      val scores = byRank.map(_.getAs[Double]("Score")).toSeq
      assert(scores === scores.sorted.reverse)
    }
    // corpus sanity: every doc surfaces exactly k terms (docs are >= k tokens)
    val corpus = TextOps.tfidf(spark, sfDir)
    assert(corpus.groupBy("doc_id").count()
      .filter(col("count") =!= TextOps.TfidfTopK).count() === 0L)
  }

  test("token_budget: selection is exactly the greedy quality-ordered prefix under the budget") {
    val sel = CurateOps.tokenBudget(spark, sfDir).collect()
    assert(sel.nonEmpty && sel.length < 500, s"trivial selection: ${sel.length}")
    sel.foreach(r => assert(r.getAs[Long]("CumTokens") <= CurateOps.TokenBudget))
    // driver recomputation of the greedy prefix from the quality query
    val all = TextOps.quality(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("NTokens"), r.getAs[Double]("QualityScore")))
      .sortBy { case (id, _, q) => (-q, id) }
    var cum = 0L
    val want = all.takeWhile { case (_, n, _) => { cum += n; cum <= CurateOps.TokenBudget } }
      .map(_._1).toSet
    assert(sel.map(_.getAs[Long]("doc_id")).toSet === want)
  }

  test("corpus_stats: totals cover the corpus, shares sum to 1, means recomputable") {
    val rows = TextOps.corpusStats(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("NDocs")).sum === 500L)
    val shareSum = rows.map(_.getAs[Double]("ShareOfDocs")).sum
    assert(math.abs(shareSum - 1.0) < 1e-12, s"shares sum to $shareSum")
    // driver recomputation from the quality query + raw langs
    val docs = graft.etl.Tables.documents(spark, sfDir)
      .select("doc_id", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val quality = TextOps.quality(spark, sfDir).collect()
      .map(r => (docs(r.getAs[Long]("doc_id")), r.getAs[Int]("NTokens"), r.getAs[Double]("QualityScore")))
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val mine = quality.filter(_._1 == lang)
      assert(r.getAs[Long]("NDocs") === mine.length.toLong)
      assert(r.getAs[Long]("SumTokens") === mine.map(_._2.toLong).sum)
      val want = mine.map(q => math.floor(q._3 * 1e9).toLong).sum.toDouble / mine.length / 1e9
      assert(math.abs(r.getAs[Double]("AvgQuality") - want) < 1e-15)
      val sorted = mine.map(_._2).sorted
      assert(r.getAs[Double]("MedianTokens") >= sorted.head &&
        r.getAs[Double]("MedianTokens") <= sorted.last)
    }
  }

  test("curation pipeline: funnel monotone, output on disk passes every stage predicate") {
    import org.apache.spark.sql.functions.col
    val outDir = tempDir("graft-curated").toString
    // corpus-tuned threshold: the synthetic vocab is tiny, so trigram
    // eval overlap is near-universal (median 5 shared shingles/doc) —
    // drop only the worst leakers
    val minShared = 10
    val funnel = CurateOps.runCurationPipeline(spark, sfDir, outDir,
      minSharedShingles = minShared)
    val counts = funnel.map(_._2)
    assert(funnel.map(_._1) === Seq("train", "decontaminated", "sampled",
      "quality_filtered", "dedup_survivors", "budget_packed"))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"funnel not monotone: $funnel")
    assert(counts.last > 0, s"pipeline produced an empty corpus: $funnel")
    val out = spark.read.parquet(s"$outDir/curated_corpus")
    assert(out.count() === counts.last)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // recheck every stage predicate against the independent queries
    val train = CurateOps.splitAssign(spark, sfDir)
      .filter(col("Split") === "train").collect().map(_.getAs[Long]("doc_id")).toSet
    val contaminated = CurateOps.decontaminate(spark, sfDir)
      .filter(col("NSharedShingles") >= minShared).collect().map(_.getAs[Long]("doc_id")).toSet
    val sampledOut = CurateOps.sampleStratified(spark, sfDir)
      .filter(!col("IsSampled")).collect().map(_.getAs[Long]("doc_id")).toSet
    val lowQ = TextOps.quality(spark, sfDir)
      .filter(col("QualityScore") < CurateOps.MinQuality).collect().map(_.getAs[Long]("doc_id")).toSet
    val repetitive = TextOps.repetition(spark, sfDir)
      .filter(col("IsRepetitive")).collect().map(_.getAs[Long]("doc_id")).toSet
    val dupes = graft.ops.DedupOps.components(spark, sfDir)
      .filter(!col("IsSurvivor")).collect().map(_.getAs[Long]("doc_id")).toSet
    ids.foreach { id =>
      assert(train.contains(id), s"$id not train")
      assert(!contaminated.contains(id), s"$id contaminated")
      assert(!sampledOut.contains(id), s"$id sampled out")
      assert(!lowQ.contains(id) && !repetitive.contains(id), s"$id fails quality")
      assert(!dupes.contains(id), s"$id is a near-dup loser")
    }
    out.collect().foreach(r =>
      assert(r.getAs[Long]("CumTokens") <= CurateOps.TokenBudget))
  }

  test("curation/text family is total on an empty corpus (no crash, zero rows)") {
    val dir = docsFixture(Seq.empty)
    assert(CurateOps.decontaminate(spark, dir).count() === 0L)
    // vocab growth keeps its fixed 10-row frame (the mirror's answer
    // on the same input): all-zero counts, NULL TtrCum — not an NPE
    // off the NULL percentile_disc thresholds
    val vg = TextOps.vocabGrowth(spark, dir).collect()
    assert(vg.length === TextOps.VocabGrowthSteps)
    assert(vg.forall(r => r.getAs[Long]("VocabCum") === 0L && r.isNullAt(4)))
    assert(CurateOps.sampleStratified(spark, dir).count() === 0L)
    assert(TextOps.repetition(spark, dir).count() === 0L)
    assert(TextOps.tfidf(spark, dir).count() === 0L)
    assert(TextOps.piiRedact(spark, dir).count() === 0L)
  }

  test("pii_redact: planted emails/phones are counted and masked, clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to alice.smith@corp.example.org or call +1-555-0199 today"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io and c.d@e-f.net plus +1-555-1234 +1-555-9876"))
      .toDF("doc_id", "text")
    val got = TextOps.redactPii(df, col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("NEmails"), r.getAs[Int]("NPhones"), r.getAs[String]("Redacted")))).toMap
    assert(got(1L)._1 === 1 && got(1L)._2 === 1)
    assert(got(1L)._3 === "write to <EMAIL> or call <PHONE> today")
    assert(got(2L) === ((0, 0, "no pii here at all")))
    assert(got(3L)._1 === 2 && got(3L)._2 === 2)
    assert(!got(3L)._3.contains("@") && !got(3L)._3.contains("555"))
    // the named query plants one email on ids !% 3 and one phone on even ids
    val q = TextOps.piiRedact(spark, sfDir).collect()
    q.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("NEmails") === (if (id % 3 != 0) 1 else 0))
      assert(r.getAs[Int]("NPhones") === (if (id % 2 == 0) 1 else 0))
    }
  }

  test("pack_sequences: per-shard layout is a gapless chop of the concatenated token stream") {
    val L = CurateOps.PackSeqLen
    val rows = CurateOps.packSequences(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, shard) =>
      val byId = shard.sortBy(_.getAs[Long]("doc_id"))
      // exclusive prefix sum: first doc at offset 0, each next doc
      // starts exactly where the previous ended — no gaps, no overlap
      var expectStart = 0L
      byId.foreach { r =>
        assert(r.getAs[Long]("StartTok") === expectStart,
          s"$src doc ${r.getAs[Long]("doc_id")} misplaced")
        expectStart += r.getAs[Int]("NTokens")
        val first = r.getAs[Long]("FirstSeq")
        val last = r.getAs[Long]("LastSeq")
        assert(first === r.getAs[Long]("StartTok") / L)
        assert(last >= first)
        assert(r.getAs[Int]("NSeqSpan") === (last - first + 1).toInt)
      }
      // the shard's sequence count is exactly ceil(totalTokens / L)
      val total = byId.map(_.getAs[Int]("NTokens").toLong).sum
      assert(byId.map(_.getAs[Long]("LastSeq")).max === (total - 1) / L,
        s"$src sequence count is not ceil(total/L)")
    }
    // boundary-straddling docs exist, else the chop is untested
    assert(rows.count(_.getAs[Int]("NSeqSpan") >= 2) > 0,
      "no document straddles a sequence boundary — vacuous layout")
  }

  test("sample_weighted: exact integer coin, weight-proportional rate, deterministic") {
    val denom = CurateOps.WeightSampleDenom
    val kept = CurateOps.sampleWeighted(spark, sfDir).collect()
    assert(kept.nonEmpty)
    // every kept row passes its own integer threshold
    kept.foreach { r =>
      assert(r.getAs[Long]("Hash48") * denom <
        r.getAs[Int]("NTokens").toLong * (1L << 48))
      assert(r.getAs[Double]("InclusionP") ===
        r.getAs[Int]("NTokens").toDouble / denom)
    }
    // rate sanity: corpus docs are 10-99 tokens → keep rate must sit
    // inside the implied [10/denom, 99/denom] band (weighted mean)
    val total = graft.etl.Tables.documents(spark, sfDir).count()
    val rate = kept.length.toDouble / total
    assert(rate > 10.0 / denom && rate < 99.0 / denom, s"rate $rate outside band")
    // longer docs are kept proportionally more often: compare observed
    // keep rates of the shortest vs longest token-count terciles
    val toks = graft.ops.TextOps.tokens(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("NTokens")).toMap
    val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
    val sorted = toks.toSeq.sortBy(_._2)
    val (short, long) = (sorted.take(total.toInt / 3), sorted.takeRight(total.toInt / 3))
    def rateOf(xs: Seq[(Long, Int)]) = xs.count(x => keptIds(x._1)).toDouble / xs.size
    assert(rateOf(long) > rateOf(short),
      "keep rate not increasing with weight — sampler is not proportional")
    // determinism: a second run returns the identical set
    assert(CurateOps.sampleWeighted(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet === keptIds)
  }

  test("mixture_balance: exact integer decision, feasible rates, weight monotonicity, deterministic") {
    val rows = CurateOps.mixtureSample(spark, sfDir).collect()
    val total = graft.etl.Tables.documents(spark, sfDir).count()
    assert(rows.length === total, "one verdict row per document")
    // driver recomputation of the full contract in exact BigInt math:
    // supply, W, T = min(S·W/w), and each doc's keep decision
    val supply = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("NTokens")).sum).toMap
    val wTot = BigInt(supply.size) // uniform default: every weight 1
    val t = supply.values.map(s => BigInt(s) * wTot).min // /1
    rows.foreach { r =>
      val s = BigInt(supply(r.getAs[String]("source")))
      val want = BigInt(r.getAs[Long]("Hash48")) * wTot * s < t * BigInt(CurateOps.Pow48)
      assert(r.getAs[Boolean]("IsKept") === want, s"decision mismatch at $r")
      val p = r.getAs[Double]("InclusionP")
      assert(p > 0.0 && p <= 1.0, s"infeasible rate $p")
      assert(p === t.toDouble / (wTot * s).toDouble)
    }
    // uniform weights → every source gets the SAME token target, so
    // the scarcest source's rate is ~1 and larger sources downsample
    val ps = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.head.getAs[Double]("InclusionP")).toMap
    assert(ps(supply.minBy(_._2)._1) > 0.999)
    assert(ps(supply.maxBy(_._2)._1) < 1.0)
    // weight monotonicity: doubling one source's weight never lowers
    // its keep set (its rate rises; the coin is unchanged)
    val boosted = supply.minBy(_._2)._1
    val keptBase = rows.filter(r => r.getAs[String]("source") == boosted
      && r.getAs[Boolean]("IsKept")).map(_.getAs[Long]("doc_id")).toSet
    val keptBoost = CurateOps.mixtureSample(spark, sfDir, Map(boosted -> 2L))
      .collect().filter(r => r.getAs[String]("source") == boosted
        && r.getAs[Boolean]("IsKept")).map(_.getAs[Long]("doc_id")).toSet
    assert(keptBase.subsetOf(keptBoost),
      "raising a source's weight dropped some of its previously kept docs")
    // determinism
    assert(CurateOps.mixtureSample(spark, sfDir).collect().toSeq === rows.toSeq)
  }

  /** The engines' shared token semantics, recomputed independently. */
  private def tokensOf(text: String): Seq[String] =
    text.trim.split("\\s+").toSeq

  /** floor(log2(x)) for x >= 1 — the integer-surprisal quantizer. */
  private def log2Floor(x: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(x)

  test("pmi_collocations: full brute-force recomputation matches on the fixture corpus") {
    val texts = graft.etl.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0)).toSeq
    val toks = texts.map(tokensOf)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTok = toks.map(_.size.toLong).sum
    val nBig = toks.map(t => (t.size - 1).toLong).sum
    val pairs = toks.filter(_.size >= 2)
      .flatMap(t => t.zip(t.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= TextOps.PmiMinPairCount)
    val expected = pairs.toSeq.map { case ((a, b), nb) =>
      val ratio = (BigInt(nb) * BigInt(nTok) * BigInt(nTok)).toDouble /
        (BigInt(uni(a)) * BigInt(uni(b)) * BigInt(nBig)).toDouble
      (a, b, nb, uni(a), uni(b), ratio)
    }.sortBy { case (a, b, _, _, _, r) => (-r, a, b) }
      .take(TextOps.PmiTopK)
    val got = TextOps.pmiCollocations(spark, sfDir).collect().map(r =>
      (r.getAs[String]("TermA"), r.getAs[String]("TermB"), r.getAs[Long]("NBoth"),
        r.getAs[Long]("NA"), r.getAs[Long]("NB"), r.getAs[Double]("PmiRatio"))).toSeq
    assert(got === expected)
    got.foreach { case (_, _, nb, _, _, _) =>
      assert(nb >= TextOps.PmiMinPairCount)
    }
  }

  /** documents fixture with caller-controlled sources. */
  private def docsFixtureSrc(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-docs-src").toString
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("importance_resample: planted target vocabulary ranks target-like candidates first, weights exact") {
    val dir = docsFixtureSrc(Seq(
      (1L, "dose patient trial", CurateOps.DsirTargetSource),
      (2L, "dose patient trial", CurateOps.DsirTargetSource),
      (3L, "dose patient trial", CurateOps.DsirTargetSource),
      // candidate that reuses the target vocabulary
      (10L, "dose patient trial dose", "web"),
      // candidate with none of it
      (11L, "quick brown fox jumps", "web")))
    val got = CurateOps.importanceResample(spark, dir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("NTokens"), r.getAs[Long]("LogRatioBits")))
    assert(got.map(_._1).toSeq === Seq(10L, 11L), "target-like candidate must rank first")
    // exact integer weights: V=7, TT=9, TR=8.
    // dose: ct=3,cr=2 -> bt=floor(log2(16/4))=2, br=floor(log2(15/3))=2, d=0
    // patient/trial: ct=3,cr=1 -> bt=2, br=floor(log2(15/2))=2, d=0  -> doc 10 weight 0
    // generic terms: ct=0,cr=1 -> bt=floor(log2(16))=4, br=2, d=-2   -> doc 11 weight -8
    assert(got.toSeq === Seq((10L, 4L, 0L), (11L, 4L, -8L)))
  }

  test("importance_resample: full brute-force recomputation matches on the fixture corpus") {
    val docs = graft.etl.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("source")))
    val tgt = CurateOps.DsirTargetSource
    val termCnt = docs.flatMap { case (_, t, s) => tokensOf(t).map(tok => (tok, s == tgt)) }
      .groupBy(_._1).view.mapValues { xs =>
        (xs.count(_._2).toLong, xs.count(!_._2).toLong)
      }.toMap
    val tt = termCnt.values.map(_._1).sum
    val tr = termCnt.values.map(_._2).sum
    val v = termCnt.size.toLong
    val bits = termCnt.map { case (tok, (ct, cr)) =>
      tok -> ((log2Floor((tt + v) / (ct + 1)), log2Floor((tr + v) / (cr + 1))))
    }
    val expected = docs.filter(_._3 != tgt).map { case (id, t, s) =>
      val tf = tokensOf(t).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val w = tf.map { case (tok, f) =>
        val (bt, br) = bits(tok); f * (br - bt)
      }.sum
      (id, s, tf.values.sum, w)
    }.sortBy { case (id, _, _, w) => (-w, id) }.take(CurateOps.DsirTopK).toSeq
    val got = CurateOps.importanceResample(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("NTokens"), r.getAs[Long]("LogRatioBits"))).toSeq
    assert(got === expected)
  }

  test("split_leakage: pair card reconciles with decontaminate and with split totals") {
    val rows = CurateOps.splitLeakage(spark, sfDir).collect()
      .map(r => (r.getAs[String]("Split"), r.getAs[String]("OtherSplit")) ->
        ((r.getAs[Long]("NDocs"), r.getAs[Long]("NLeakedDocs"),
          r.getAs[Double]("LeakRate")))).toMap
    // all ordered pairs of present splits, nothing else
    val splits = CurateOps.splitAssign(spark, sfDir).collect()
      .groupBy(_.getAs[String]("Split")).view.mapValues(_.length.toLong).toMap
    val wantPairs = for (a <- splits.keySet; b <- splits.keySet if a != b) yield (a, b)
    assert(rows.keySet === wantPairs)
    rows.foreach { case ((a, _), (nd, nl, rate)) =>
      assert(nd === splits(a), s"NDocs wrong for split $a")
      assert(nl >= 0 && nl <= nd)
      assert(rate === nl.toDouble / nd)
    }
    // the (train, test) row IS decontaminate's flagged count — the
    // card may not drift from the per-doc query it summarizes
    val flagged = CurateOps.decontaminate(spark, sfDir).collect()
      .count(_.getAs[Boolean]("IsContaminated")).toLong
    assert(rows(("train", "test"))._2 === flagged,
      "train<-test leakage count diverged from decontaminate")
    // non-vacuous on this corpus: some pair leaks, some direction is
    // asymmetric in RATE (the denominators differ by construction)
    assert(rows.values.exists(_._2 > 0), "no leakage anywhere — card untested")
  }

  test("split_leakage_grouped: same-source near-dups cannot leak across the grouped split") {
    // the scenario splitGrouped exists for: two identical documents
    // whose per-DOC hashes land in train and test (a leak the
    // decontamination card flags), but which share one provenance —
    // the grouped scheme pins them to a single split, removing the
    // leak class by construction
    def srcBucket(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d(0) & 0xff
    }
    val srcs = (0 to 999).map("src" + _)
    val trainSrc = srcs.find(srcBucket(_) < CurateOps.TrainUpper).get
    val testSrc = srcs.find(srcBucket(_) >= CurateOps.ValUpper).get
    val ids = 0L to 4000L
    val tA = ids.find(split(_) == "train").get
    val tB = ids.find(split(_) == "test").get
    val tC = ids.find(split(_) == "val").get
    val shared = "one two three four five six seven eight nine ten"
    val dir = docsFixtureSrc(Seq(
      (tA, shared, trainSrc),
      (tB, shared, trainSrc),
      // disjoint filler so the grouped scheme has a second split
      (tC, "aa bb cc dd ee ff gg hh ii jj", testSrc)))
    def leaks(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("Split"), r.getAs[String]("OtherSplit")) ->
        r.getAs[Long]("NLeakedDocs")).toMap
    val perDoc = leaks(CurateOps.splitLeakage(spark, dir))
    assert(perDoc(("train", "test")) === 1L && perDoc(("test", "train")) === 1L,
      s"per-doc split must leak the planted pair: $perDoc")
    val grouped = leaks(CurateOps.splitLeakageGrouped(spark, dir))
    assert(grouped.nonEmpty && grouped.values.forall(_ === 0L),
      s"grouped scheme leaked a same-source pair: $grouped")
  }
}
