package graft

import org.apache.spark.sql.functions._

import graft.ops.{GraphOps, RelationalOps, TextOps}

/** Driver-recomputation cross-checks for the round-8 analytics ops:
  * BM25 retrieval, unigram-surprisal scoring, integer PageRank, and
  * exact-power-sum correlation. Each test recomputes the operator's
  * declared arithmetic in plain Scala over collected sf0.001 rows and
  * demands exact agreement (all four are engineered to be bit-exact). */
class RetrievalGraphSpec extends SparkSpec {

  private def docsTokens(): Map[Long, Seq[String]] =
    graft.etl.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim.split("\\s+").toSeq)
      .toMap

  test("bm25: quantized scores equal a driver recomputation of the declared formula") {
    val toks = docsTokens()
    val n = toks.size
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
    // df per query term over the corpus
    val allTerms = TextOps.Bm25Queries.flatMap(_._2.split("\\s+")).distinct
    val df = allTerms.map(t => t -> toks.values.count(_.contains(t))).toMap
    def scoreQ(qterms: Seq[String], docToks: Seq[String]): Long = {
      val dl = docToks.size
      qterms.distinct.flatMap { t =>
        val tf = docToks.count(_ == t)
        if (tf == 0 || df(t) == 0) None
        else {
          val idf = (n - df(t) + 0.5) / (df(t) + 0.5)
          val k = TextOps.Bm25K1 * (1.0 - TextOps.Bm25B + TextOps.Bm25B * dl / avgdl)
          val s = idf * (tf * (TextOps.Bm25K1 + 1.0)) / (tf + k)
          Some(math.floor(s * 1e9).toLong)
        }
      }.sum
    }
    val got = TextOps.bm25Topk(spark, sfDir).collect()
    assert(got.nonEmpty)
    val byQuery = got.groupBy(_.getAs[Int]("QueryId"))
    assert(byQuery.keySet === TextOps.Bm25Queries.map(_._1).toSet,
      "every query returned results")
    byQuery.foreach { case (qid, rows) =>
      // ranks are 1..k, ScoreQ non-increasing
      val sorted = rows.sortBy(_.getAs[Int]("Rank"))
      assert(sorted.map(_.getAs[Int]("Rank")).toSeq === (1 to sorted.length))
      assert(sorted.map(_.getAs[Long]("ScoreQ")).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      })
      val qterms = TextOps.Bm25Queries.toMap.apply(qid).split("\\s+").toSeq
      sorted.foreach { r =>
        val d = r.getAs[Long]("doc_id")
        assert(r.getAs[Long]("ScoreQ") === scoreQ(qterms, toks(d)),
          s"query $qid doc $d quantized score mismatch")
      }
      // top-1 really is the best over ALL docs, not just the returned k
      val best = toks.map { case (d, tk) => (scoreQ(qterms, tk), d) }.max
      assert(sorted.head.getAs[Long]("ScoreQ") === best._1,
        s"query $qid top-1 is not the corpus-wide max")
    }
  }

  test("perplexity: surprisal sums equal a driver recomputation; outlier band two-sided") {
    val toks = docsTokens()
    val cnt = toks.values.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val v = cnt.size.toLong
    val t = cnt.values.sum
    def bits(c: Long): Int = java.lang.Long.toBinaryString((t + v) / (c + 1)).length - 1
    val rows = TextOps.perplexity(spark, sfDir).collect()
    assert(rows.length === toks.size)
    val totalBits = cnt.map { case (tok, c) => c * bits(c) }.sum
    val corpusMean = totalBits.toDouble / t
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val expSum = toks(d).map(tok => bits(cnt(tok)).toLong).sum
      assert(r.getAs[Long]("SumBits") === expSum, s"doc $d SumBits")
      assert(r.getAs[Long]("NTokens") === toks(d).size.toLong)
      val mean = r.getAs[Double]("MeanBits")
      assert(math.abs(mean - expSum.toDouble / toks(d).size) < 1e-12)
      assert(r.getAs[Boolean]("IsOutlier") ===
        (math.abs(mean - corpusMean) > TextOps.PplBandBits), s"doc $d outlier flag")
    }
  }

  test("perplexity_bigram: conditional surprisal sums equal a driver recomputation") {
    val toks = docsTokens()
    val uni = toks.values.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val v = uni.size.toLong
    val bigrams = toks.values.filter(_.size >= 2)
      .flatMap(t => t.zip(t.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    def bits(p: (String, String)): Int = java.lang.Long
      .toBinaryString((uni(p._1) + v) / (bigrams(p) + 1)).length - 1
    val totalBits = bigrams.map { case (p, c2) => c2 * bits(p) }.sum
    val tt = bigrams.values.sum
    val corpusMean = totalBits.toDouble / tt
    val rows = TextOps.perplexityBigram(spark, sfDir).collect()
    assert(rows.length === toks.count(_._2.size >= 2), "one row per doc with >= 2 tokens")
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val pairs = toks(d).zip(toks(d).tail)
      val expSum = pairs.map(p => bits(p).toLong).sum
      assert(r.getAs[Long]("NBigrams") === pairs.size.toLong, s"doc $d NBigrams")
      assert(r.getAs[Long]("SumBits") === expSum, s"doc $d SumBits")
      val mean = r.getAs[Double]("MeanBits")
      assert(math.abs(mean - expSum.toDouble / pairs.size) < 1e-12)
      assert(r.getAs[Boolean]("IsOutlier") ===
        (math.abs(mean - corpusMean) > TextOps.PplBandBits), s"doc $d outlier flag")
    }
  }

  test("perplexity_bigram: looping boilerplate of common words flags under the bigram LM") {
    // a doc made of COMMON tokens in an improbable repeated order: each
    // bigram is rare (high conditional surprisal) while each unigram is
    // common (low unigram surprisal) — the failure mode the order-2
    // model exists to separate. Build it from the corpus's two most
    // frequent tokens interleaved with two mid-frequency ones, check
    // the engine's own substrate arithmetic would score it far above
    // the corpus bigram mean.
    val toks = docsTokens()
    val uni = toks.values.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val v = uni.size.toLong
    val bigrams = toks.values.filter(_.size >= 2)
      .flatMap(t => t.zip(t.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val tt = bigrams.values.sum
    val corpusMean = bigrams.map { case (p, c2) =>
      c2 * (java.lang.Long.toBinaryString((uni(p._1) + v) / (c2 + 1)).length - 1)
    }.sum.toDouble / tt
    val top = uni.toSeq.sortBy(-_._2).take(40).map(_._1)
    // the rarest adjacent pairing among the top tokens: common words,
    // uncommon order
    val loop = (for (a <- top; b <- top if a != b)
      yield (a, b, bigrams.getOrElse((a, b), 0L))).minBy(_._3)
    val loopDoc = Seq.fill(20)(Seq(loop._1, loop._2)).flatten
    val loopMean = loopDoc.zip(loopDoc.tail).map { p =>
      (java.lang.Long.toBinaryString(
        (uni(p._1) + v) / (bigrams.getOrElse(p, 0L) + 1)).length - 1).toLong
    }.sum.toDouble / (loopDoc.size - 1)
    assert(loopMean - corpusMean > TextOps.PplBandBits,
      f"looping common-word doc scored $loopMean%.2f vs corpus $corpusMean%.2f — bigram LM lost its separating power")
  }

  test("textrank: weighted integer ranks equal a driver-run of the same five rounds") {
    import graft.ops.GraphOps.{DampDen, DampNum, PageRankIters, RankScale, TeleportQ}
    val toks = docsTokens()
    // symmetrized adjacent co-occurrence weights with the count floor
    val w = toks.values.filter(_.size >= 2)
      .flatMap(t => t.zip(t.tail)).filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= TextOps.TextRankMinW)
    assert(w.nonEmpty, "co-occurrence graph empty at the fixture floor")
    // symmetry survives the floor: W(a,b) counts both orders, so both
    // directed rows carry the same weight
    w.foreach { case ((a, b), ww) => assert(w(b -> a) === ww) }
    val sw = w.groupBy(_._1._1).map { case (a, es) => a -> es.values.sum }
    var rank = sw.keys.map(_ -> RankScale).toMap
    for (_ <- 1 to PageRankIters) {
      val in = w.toSeq.groupBy(_._1._2).map { case (dst, es) =>
        dst -> es.map { case ((src, _), ww) => rank(src) * ww / sw(src) }.sum
      }
      rank = sw.keys.map(n =>
        n -> (TeleportQ + DampNum * in.getOrElse(n, 0L) / DampDen)).toMap
    }
    val expected = rank.toSeq.map { case (t, rq) => (t, sw(t), rq) }
      .sortBy { case (t, _, rq) => (-rq, t) }.take(TextOps.TextRankTopK)
    val got = TextOps.textrankKeywords(spark, sfDir).collect()
      .map(r => (r.getAs[String]("Token"), r.getAs[Long]("SumW"), r.getAs[Long]("RankQ"))).toSeq
    assert(got === expected)
  }

  test("pagerank: integer ranks equal a driver-run of the same five damped rounds") {
    val edges = GraphOps.coPurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("Src"), r.getAs[Long]("Dst")))
    assert(edges.nonEmpty)
    // undirected: every edge present in both directions, no self-loops
    val eset = edges.toSet
    edges.foreach { case (s, d) =>
      assert(s != d)
      assert(eset.contains((d, s)), s"missing reverse edge for ($s,$d)")
    }
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var rank = out.keys.map(_ -> GraphOps.RankScale).toMap
    for (_ <- 1 to GraphOps.PageRankIters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => rank(s) / out(s) }.sum
      }
      rank = out.keys.map(n =>
        n -> (GraphOps.TeleportQ +
          GraphOps.DampNum * in.getOrElse(n, 0L) / GraphOps.DampDen)).toMap
    }
    val got = GraphOps.pagerank(spark, sfDir).collect()
    assert(got.length === out.size)
    got.foreach { r =>
      val n = r.getAs[Long]("PartKey")
      assert(r.getAs[Long]("OutDeg") === out(n))
      assert(r.getAs[Long]("RankQ") === rank(n), s"node $n rank mismatch")
    }
    // total mass conserved up to floor losses (strictly shrinking)
    val mass = got.map(_.getAs[Long]("RankQ")).sum
    val start = out.size.toLong * GraphOps.RankScale
    assert(mass <= start && mass > start * 9 / 10, s"mass $mass vs start $start")
  }

  test("triangles: degree-oriented counts equal a brute-force driver enumeration") {
    val edges = GraphOps.coPurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("Src"), r.getAs[Long]("Dst")))
    val eset = edges.toSet
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    // brute force: for each canonical edge (a<b), common neighbors c>b
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val triCount = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    var total = 0L
    for ((a, b) <- edges if a < b; c <- adj(a) if c > b && eset.contains((b, c))) {
      total += 1
      triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
    }
    assert(total > 0, "no triangles in the co-purchase graph at this SF — test is vacuous")
    val got = GraphOps.triangles(spark, sfDir).collect()
    assert(got.length === deg.size)
    got.foreach { r =>
      val n = r.getAs[Long]("PartKey")
      assert(r.getAs[Long]("Degree") === deg(n))
      assert(r.getAs[Long]("NTriangles") === triCount(n), s"node $n triangle count mismatch")
      val d = deg(n)
      val want = if (d >= 2) 2.0 * triCount(n) / (d * (d - 1)) else 0.0
      assert(r.getAs[Double]("ClustCoeff") === want)
      assert(r.getAs[Double]("ClustCoeff") <= 1.0 + 1e-12)
    }
    // sum over nodes = 3 × global triangle count (each triangle hits 3 nodes)
    assert(got.map(_.getAs[Long]("NTriangles")).sum === 3 * total)
  }

  test("label propagation: labels equal a driver-run of the same synchronous rounds") {
    val edges = GraphOps.coPurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("Src"), r.getAs[Long]("Dst")))
    val nodes = edges.map(_._1).distinct
    val inNbrs = edges.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to GraphOps.LpaRounds) {
      lbl = nodes.map { n =>
        val votes = inNbrs(n).map(lbl).groupBy(identity).map { case (l, v) => l -> v.length }
        val maxC = votes.values.max
        n -> votes.collect { case (l, c) if c == maxC => l }.min
      }.toMap
    }
    val sizes = lbl.values.groupBy(identity).map { case (l, v) => l -> v.size.toLong }
    val got = GraphOps.labelPropagation(spark, sfDir).collect()
    assert(got.length === nodes.length)
    got.foreach { r =>
      val n = r.getAs[Long]("PartKey")
      assert(r.getAs[Long]("Community") === lbl(n), s"node $n label mismatch")
      assert(r.getAs[Long]("CommunitySize") === sizes(lbl(n)))
    }
    // the propagation must actually merge something: fewer communities
    // than nodes, and at least one non-singleton community
    assert(sizes.size < nodes.length)
    assert(sizes.values.max > 1)
  }

  test("modularity: per-community cards equal a driver recomputation over the LPA labels") {
    val edges = GraphOps.coPurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("Src"), r.getAs[Long]("Dst")))
    val nodes = edges.map(_._1).distinct
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val inNbrs = edges.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to GraphOps.LpaRounds) {
      lbl = nodes.map { n =>
        val votes = inNbrs(n).map(lbl).groupBy(identity).map { case (l, v) => l -> v.length }
        val maxC = votes.values.max
        n -> votes.collect { case (l, c) if c == maxC => l }.min
      }.toMap
    }
    val twoM = deg.values.sum.toDouble
    val intra = edges.filter { case (s, d) => lbl(s) == lbl(d) }
      .groupBy { case (s, _) => lbl(s) }.map { case (l, es) => l -> es.length.toLong }
    val commSize = lbl.values.groupBy(identity).map { case (l, v) => l -> v.size.toLong }
    val degSum = lbl.toSeq.groupBy(_._2)
      .map { case (l, ns) => l -> ns.map { case (n, _) => deg(n) }.sum }
    val got = GraphOps.modularity(spark, sfDir).collect()
    assert(got.length === commSize.size)
    var totalQ = 0.0
    got.foreach { r =>
      val c = r.getAs[Long]("Community")
      assert(r.getAs[Long]("CommunitySize") === commSize(c))
      assert(r.getAs[Long]("IntraEdges") === intra.getOrElse(c, 0L))
      assert(r.getAs[Long]("DegreeSum") === degSum(c))
      val want = intra.getOrElse(c, 0L) / twoM -
        (degSum(c) / twoM) * (degSum(c) / twoM)
      assert(r.getAs[Double]("Contribution") === want, s"community $c contribution")
      totalQ += r.getAs[Double]("Contribution")
    }
    // exact identities: sizes partition the node set, degree sums
    // partition 2m, intra edges can't exceed the edge universe
    assert(got.map(_.getAs[Long]("CommunitySize")).sum === nodes.length.toLong)
    assert(got.map(_.getAs[Long]("DegreeSum")).sum === twoM.toLong)
    assert(got.map(_.getAs[Long]("IntraEdges")).sum <= twoM.toLong)
    // at this SF the dense co-purchase graph may collapse to ONE
    // community (Q ≡ 0 exactly, by the identities above) — range
    // only; the positive-Q behavior is pinned on the synthetic corpus
    assert(totalQ >= -0.5 && totalQ < 1.0)
  }

  test("graph substrate invalidation: edges and labeling memos rebuild after invalidation") {
    // corpus-append discipline (the invalidateCorpusCounts shape):
    // the memoized edge substrate and LPA labeling must be evictable
    // per (session, dir) so an appended corpus is re-read — observable
    // as fresh DataFrame instances after eviction, same instance
    // before (reference equality IS the memo contract)
    val e1 = GraphOps.coPurchaseEdges(spark, sfDir)
    assert(GraphOps.coPurchaseEdges(spark, sfDir) eq e1)
    val l1 = GraphOps.lpaLabelsFor(spark, sfDir)
    assert(GraphOps.lpaLabelsFor(spark, sfDir) eq l1)
    Substrates.invalidate(spark, sfDir)
    val e2 = GraphOps.coPurchaseEdges(spark, sfDir)
    val l2 = GraphOps.lpaLabelsFor(spark, sfDir)
    assert(!(e2 eq e1), "edge memo survived invalidation")
    assert(!(l2 eq l1), "labeling memo survived invalidation")
    // and the rebuilt substrate is the same graph (count identity)
    assert(e2.count() === e1.count())
  }

  test("modularity: two bridged 4-cliques score the closed-form Q of the 2-community split") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // K4 {0,1,2,3} + K4 {4,5,6,7} bridged by 3–4: LPA (4 rounds,
    // min-label ties) labels each clique by its min node; closed form
    // Q = 2 · (12/26 − (13/26)²) with 26 directed edges
    val undirected = (for {
      base <- Seq(0L, 4L); a <- 0L to 3L; b <- (a + 1L) to 3L
    } yield (base + a, base + b)) :+ (3L, 4L)
    val raw = undirected.toDF("A", "B")
    val edges = raw.select($"A".as("Src"), $"B".as("Dst"))
      .union(raw.select($"B".as("Src"), $"A".as("Dst")))
      .distinct()
      .withColumn("OutDeg",
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))
          .over(Window.partitionBy($"Src")))
    val rows = GraphOps.modularityOf(edges).collect()
    assert(rows.map(_.getAs[Long]("Community")).toSeq === Seq(0L, 4L))
    rows.foreach { r =>
      assert(r.getAs[Long]("CommunitySize") === 4L)
      assert(r.getAs[Long]("IntraEdges") === 12L)
      assert(r.getAs[Long]("DegreeSum") === 13L)
      assert(r.getAs[Double]("Contribution") ===
        12.0 / 26.0 - (13.0 / 26.0) * (13.0 / 26.0))
    }
    val q = rows.map(_.getAs[Double]("Contribution")).sum
    assert(q > 0.42 && q < 0.43, s"two-clique Q=$q off the closed form")
  }

  test("query likelihood: bit scores and ranking equal a driver recomputation") {
    import graft.ops.RetrievalOps
    val toks = docsTokens()
    val mu = RetrievalOps.QlMu
    val sumDl = toks.values.map(_.size.toLong).sum
    val allTerms = TextOps.Bm25Queries.flatMap(_._2.split("\\s+")).distinct
    val ctf = allTerms.map(t => t -> toks.values.map(_.count(_ == t).toLong).sum).toMap
    def bits(x: Long, y: Long): Int = java.lang.Long.toBinaryString(x / y).length - 1
    val got = RetrievalOps.queryLikelihoodTopk(spark, sfDir).collect()
      .groupBy(_.getAs[Int]("QueryId"))
    TextOps.Bm25Queries.foreach { case (qid, q) =>
      val qts = q.split("\\s+").distinct.toSeq
      val scored = toks.toSeq.flatMap { case (d, ts) =>
        val hits = qts.filter(ts.contains)
        if (hits.isEmpty) None
        else {
          val hb = hits.map { t =>
            val tfc = ts.count(_ == t).toLong
            bits(mu * ctf(t) + tfc * sumDl, mu * ctf(t))
          }.sum
          val pen = qts.size * bits(ts.size + mu, mu)
          Some((d, (hb - pen).toLong, hits.size))
        }
      }
      val want = scored.sortBy { case (d, s, _) => (-s, d) }.take(TextOps.Bm25TopK)
      val rows = got(qid).sortBy(_.getAs[Int]("Rank"))
      assert(rows.length === want.length, s"query $qid row count")
      rows.zip(want).zipWithIndex.foreach { case ((r, (d, s, nh)), i) =>
        assert(r.getAs[Long]("doc_id") === d, s"query $qid rank ${i + 1} doc")
        assert(r.getAs[Long]("ScoreBits") === s, s"query $qid doc $d score")
        assert(r.getAs[Int]("NTermsHit") === nh)
      }
      // non-vacuous: the bit quantizer must separate scores somewhere
      assert(scored.map(_._2).distinct.size > 1, s"query $qid scores all equal")
    }
  }

  test("k-core: membership and core degrees equal a driver peel to fixpoint") {
    val edges = GraphOps.coPurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("Src"), r.getAs[Long]("Dst")))
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val deg = adj.map { case (n, ns) => n -> ns.size.toLong }
    val k = GraphOps.KcoreDensityNum * (deg.values.sum / deg.size) / GraphOps.KcoreDensityDen
    var alive = adj.keySet
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      val next = alive.filter(n => (adj(n) & alive).size >= k)
      if (next == alive) done = true else alive = next
    }
    assert(rounds <= GraphOps.KcoreUnrollRounds, s"driver peel took $rounds rounds")
    val got = GraphOps.kcore(spark, sfDir).collect()
    assert(got.length === deg.size)
    got.foreach { r =>
      val n = r.getAs[Long]("PartKey")
      assert(r.getAs[Long]("Degree") === deg(n))
      assert(r.getAs[Boolean]("InCore") === alive.contains(n), s"membership wrong for $n")
      val want = if (alive.contains(n)) (adj(n) & alive).size.toLong else 0L
      assert(r.getAs[Long]("CoreDegree") === want, s"core degree wrong for $n")
    }
    // peeling must do SOMETHING here (neither all-in nor instant-empty)
    assert(rounds >= 2, "corpus converged in one round — the loop is untested")
  }

  test("bfs hops: distances equal a driver BFS from the same (max degree, min id) source") {
    val edges = GraphOps.coPurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("Src"), r.getAs[Long]("Dst")))
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val deg = adj.map { case (n, ns) => n -> ns.size.toLong }
    val src = deg.toSeq.maxBy { case (n, d) => (d, -n) }._1
    val dist = scala.collection.mutable.Map(src -> 0L)
    var frontier = Set(src)
    var rounds = 0
    while (frontier.nonEmpty) {
      rounds += 1
      frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
      frontier.foreach(dist(_) = rounds.toLong)
    }
    assert(rounds <= GraphOps.BfsUnrollRounds,
      s"driver BFS took $rounds rounds — raise BfsUnrollRounds + the mirror unroll")
    val got = GraphOps.bfsHops(spark, sfDir).collect()
    assert(got.length === deg.size)
    got.foreach { r =>
      val n = r.getAs[Long]("PartKey")
      assert(r.getAs[Long]("Degree") === deg(n))
      assert(r.getAs[Boolean]("IsSource") === (n == src))
      (Option(r.get(r.fieldIndex("Hops"))), dist.get(n)) match {
        case (Some(h), Some(d)) => assert(h.asInstanceOf[Long] === d, s"hops wrong for $n")
        case (None, None) => // unreachable on both sides — correct
        case (g, w) => fail(s"reachability disagrees for $n: got $g want $w")
      }
    }
    // the query must be non-trivial here: hops spread past 1, and
    // the source itself reports 0
    assert(got.exists(r => Option(r.get(r.fieldIndex("Hops"))).exists(_.asInstanceOf[Long] >= 2L)),
      "every node within one hop — traversal untested")
  }

  test("bfs hops: frontier-delta and full-state loops are bit-identical on both corpus shapes") {
    // the frontier recursion must compute the same min-lattice
    // fixpoint as the full-state join on the small-world co-purchase
    // graph AND on a power-law graph (hubs + longer tails — the shape
    // the frontier form exists for)
    // NOTE: the co-purchase substrate is the SESSION-SHARED memoized
    // cache — only the ad-hoc power-law corpus may be unpersisted
    // here (unpersisting the shared one silently un-caches every
    // later graph test's plan — caught by PlanSpec's cached-substrate
    // assertion in full-suite order)
    // the chain corpus runs past BOTH the gate's round backstop (its
    // diameter ≈ nCommunities, here ~27 > BfsUnrollRounds) and the
    // BfsCompactMinRounds threshold, so this also exercises the
    // ONE-SHOT dist-union compaction at loop exit and the explicit
    // maxRounds override — bit-identity must survive both. 25
    // communities (was 15) so that even a MIDDLE hub winning the
    // max-OutDeg seed tie-break has eccentricity > BfsUnrollRounds
    // (~14 > 10) — at 15 a middle-hub seed (eccentricity ~9) would
    // fail the depth assertion below, leaving the corpus brittle to
    // any change of the xxhash64 intra-edge counts that set the
    // tie-break
    Seq(
      ("co-purchase", GraphOps.coPurchaseEdges(spark, sfDir), false,
        GraphOps.BfsUnrollRounds),
      ("power-law",
        graft.tools.GraphScaleProbe.powerlawEdges(spark, 2000L, 6000L), true,
        GraphOps.BfsUnrollRounds),
      ("chain",
        graft.tools.GraphScaleProbe.chainEdges(spark, 25, 30L, 3), true, 64)
    ).foreach { case (name, edges, adHoc, maxR) =>
      val frontier = GraphOps.bfsHopsOf(edges, maxRounds = maxR)
        .collect().map(_.toSeq)
      val full = GraphOps.bfsHopsOf(edges, frontierDelta = false, maxRounds = maxR)
        .collect().map(_.toSeq)
      assert(frontier.toSeq === full.toSeq,
        s"$name: frontier-delta BFS diverged from the full-state loop")
      if (name == "chain") {
        // the corpus did what it exists for: a genuinely deep traversal
        val maxHops = frontier.flatMap(r =>
          Option(r(2)).map(_.asInstanceOf[Long])).max
        assert(maxHops > GraphOps.BfsUnrollRounds,
          s"chain corpus eccentricity $maxHops does not exceed the gate " +
            "backstop — the high-diameter shape regressed")
      }
      if (adHoc) edges.unpersist()
    }
  }

  test("bfs hops: a one-directional edge table fails the symmetry guard loudly; full-state still serves it") {
    // the two-frontier settled test is only sound on SYMMETRIZED
    // edges (a directed edge can rediscover a node settled ≥3 rounds
    // earlier → duplicate Node rows → wrong hops AND wrong row count
    // through the presentation join). Round 14 made the precondition
    // a runtime guard instead of a scaladoc caveat: the wrong-caller
    // class (a one-directional chain, below) must fail LOUDLY at
    // construction, and the full-state oracle must keep serving it
    val directed = spark.range(12)
      .select(col("id").as("Src"), (col("id") + 1L).as("Dst"))
      .withColumn("OutDeg", lit(1L))
    val e = intercept[IllegalArgumentException] {
      GraphOps.bfsHopsOf(directed, maxRounds = 64)
    }
    assert(e.getMessage.contains("SYMMETRIZED"),
      s"guard fired with the wrong message: ${e.getMessage}")
    // full-state on the directed chain from the tie-broken seed
    // (Src 0): hops == node id, 12 rows
    val full = GraphOps.bfsHopsOf(directed, frontierDelta = false, maxRounds = 64)
      .collect()
    assert(full.length === 12)
    full.foreach { r =>
      assert(r.getAs[Long]("Hops") === r.getAs[Long]("PartKey"),
        s"full-state hops wrong on the directed chain: $r")
    }
    // and a symmetrized version of the same chain passes the guard
    // and agrees with full-state — the guard admits exactly the
    // contract it protects
    val sym = directed.select(col("Src"), col("Dst"))
      .union(directed.select(col("Dst").as("Src"), col("Src").as("Dst")))
      .withColumn("OutDeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("Src"))))
    val fd = GraphOps.bfsHopsOf(sym, maxRounds = 64).collect().map(_.toSeq)
    val fs = GraphOps.bfsHopsOf(sym, frontierDelta = false, maxRounds = 64)
      .collect().map(_.toSeq)
    assert(fd.toSeq === fs.toSeq,
      "frontier-delta diverged from full-state on the symmetrized chain")
  }

  test("bfs hops: an even-multiplicity one-direction duplicate fails the guard (the xor escape)") {
    // (a, b), (a, b) without (b, a): h⊕h = 0 on BOTH xor fingerprints,
    // so the round-14 bit_xor check alone was blind to exactly this
    // input (r14 advice) — the decimal-sum fingerprint sees
    // 2·h(a, b) vs 2·h(b, a) and must fail loudly
    val sym = spark.range(6)
      .select(col("id").as("Src"), (col("id") + 1L).as("Dst"))
    val base = sym.union(sym.select(col("Dst").as("Src"), col("Src").as("Dst")))
    val dup = spark.range(2) // two copies of (100, 101); no (101, 100)
      .select(lit(100L).as("Src"), lit(101L).as("Dst"))
    val edges = base.union(dup)
      .withColumn("OutDeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("Src"))))
    val e = intercept[IllegalArgumentException] {
      GraphOps.bfsHopsOf(edges, maxRounds = 64)
    }
    assert(e.getMessage.contains("SYMMETRIZED"),
      s"guard missed the even-multiplicity duplicate: ${e.getMessage}")

    // duplicate of an edge whose reverse EXISTS: every distinct pair
    // has a reverse, so the old counted diagnostic would self-
    // contradict ("0 of N sampled edges have no reverse") — the
    // fingerprint-mismatch message must take the alternate branch
    val dupPaired = base.union(
        spark.range(2).select(lit(0L).as("Src"), lit(1L).as("Dst")))
      .withColumn("OutDeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("Src"))))
    val e2 = intercept[IllegalArgumentException] {
      GraphOps.bfsHopsOf(dupPaired, maxRounds = 64)
    }
    assert(e2.getMessage.contains("fall outside the diagnostic sample"),
      s"expected the alternate (non-counted) diagnostic: ${e2.getMessage}")
  }

  test("connected components: labels equal a driver union-find; sizes reconcile") {
    val edges = GraphOps.coPurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("Src"), r.getAs[Long]("Dst")))
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val parent = scala.collection.mutable.Map(deg.keys.map(n => n -> n).toSeq: _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = deg.keys.map(n => n -> find(n)).toMap
    // min-id canonical: path compression keeps the smaller root above
    val sizes = label.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = GraphOps.connectedComponents(spark, sfDir).collect()
    assert(got.length === deg.size)
    got.foreach { r =>
      val n = r.getAs[Long]("PartKey")
      assert(r.getAs[Long]("Degree") === deg(n))
      assert(r.getAs[Long]("Component") === label(n), s"component label wrong for $n")
      assert(r.getAs[Long]("ComponentSize") === sizes(label(n)), s"size wrong for $n")
    }
  }

  test("degree stats: assortativity equals a driver Pearson over the directed edge list") {
    val edges = GraphOps.coPurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("Src"), r.getAs[Long]("Dst")))
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val xy = edges.map { case (s, d) => (deg(s), deg(d)) }
    val ne = BigInt(xy.length)
    val sx = xy.map(p => BigInt(p._1)).sum
    val sy = xy.map(p => BigInt(p._2)).sum
    val sxy = xy.map(p => BigInt(p._1) * p._2).sum
    val sxx = xy.map(p => BigInt(p._1) * p._1).sum
    val syy = xy.map(p => BigInt(p._2) * p._2).sum
    val num = (ne * sxy - sx * sy).toDouble
    val want = num / (math.sqrt((ne * sxx - sx * sx).toDouble) *
      math.sqrt((ne * syy - sy * sy).toDouble))
    val r = GraphOps.degreeStats(spark, sfDir).collect().head
    assert(r.getAs[Long]("NNodes") === deg.size.toLong)
    assert(r.getAs[Long]("NEdges") === xy.length.toLong)
    assert(r.getAs[Long]("MaxDegree") === deg.values.max)
    assert(r.getAs[Long]("MinDegree") === deg.values.min)
    assert(r.getAs[Double]("MeanDegree") === deg.values.sum.toDouble / deg.size)
    // BigInt-exact sums then one IEEE combination — tolerance only for
    // the double-rounding difference between BigInt.toDouble and the
    // engine's decimal cast
    assert(math.abs(r.getAs[Double]("Assortativity") - want) < 1e-12,
      s"assortativity ${r.getAs[Double]("Assortativity")} vs driver $want")
    // the co-purchase graph must actually exhibit a signed correlation
    assert(math.abs(want) > 1e-6, "assortativity ~0 — the statistic is untested here")
  }

  test("source entropy: bit totals and rates equal a driver recomputation") {
    val docs = graft.etl.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text").trim.split("\\s+").toSeq))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
    val got = TextOps.sourceEntropy(spark, sfDir).collect()
    assert(got.length === bySrc.size)
    got.foreach { r =>
      val s = r.getAs[String]("source")
      val toks = bySrc(s)
      val n = toks.size.toLong
      val counts = toks.groupBy(identity).map { case (_, v) => v.size.toLong }
      val hq = counts.map(c => c * (java.lang.Long.toBinaryString(n / c).length - 1)).sum
      assert(r.getAs[Long]("NTokens") === n)
      assert(r.getAs[Long]("NTypes") === counts.size.toLong)
      assert(r.getAs[Long]("EntropyBitsQ") === hq, s"source $s entropy mismatch")
      assert(r.getAs[Double]("MeanBits") === hq.toDouble / n)
      assert(r.getAs[Double]("TypeTokenRatio") === counts.size.toDouble / n)
      // floor-log2 entropy is bounded by log2 of the support size
      assert(r.getAs[Double]("MeanBits") <=
        math.log(counts.size.toDouble) / math.log(2.0) + 1e-9)
    }
    // the statistic must discriminate: sources differ in MeanBits
    assert(got.map(_.getAs[Double]("MeanBits")).distinct.length > 1)
  }

  test("KS drift: sup statistic and verdicts equal a driver CDF recomputation") {
    val rows = graft.etl.Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_chars"))
    val n = rows.length.toLong
    val bySource = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val allVals = rows.map(_._2).distinct.sorted
    val got = TextOps.ksDrift(spark, sfDir).collect()
    assert(got.length === bySource.size)
    got.foreach { r =>
      val s = r.getAs[String]("source")
      val own = bySource(s)
      val nS = own.size.toLong
      val nR = n - nS
      val rest = rows.filter(_._1 != s).map(_._2)
      val dnum = allVals.map { v =>
        val cS = own.count(_ <= v).toLong
        val cR = rest.count(_ <= v).toLong
        math.abs(cS * nR - cR * nS)
      }.max
      assert(r.getAs[Long]("NDocs") === nS)
      assert(r.getAs[Long]("NRest") === nR)
      assert(r.getAs[Long]("DNum") === dnum, s"source $s sup mismatch")
      assert(r.getAs[Double]("D") === dnum.toDouble / (nS * nR).toDouble)
      val lhs = BigInt(dnum) * BigInt(dnum) * BigInt(TextOps.KsCritDen * TextOps.KsCritDen)
      val rhs = BigInt(TextOps.KsCritNum * TextOps.KsCritNum) * nS * nR * (nS + nR)
      assert(r.getAs[Boolean]("Drifted") === (lhs > rhs), s"source $s verdict")
    }
    // D is a genuine statistic here: it must vary across sources
    assert(got.map(_.getAs[Long]("DNum")).distinct.length > 1)
  }

  test("quality classifier: labels, votes and predictions equal a driver NB recomputation") {
    val toks = docsTokens()
    val stop = TextOps.stopwords.toSet
    val label = toks.map { case (d, ts) =>
      d -> (ts.size >= TextOps.QcMinTokens && 2 * ts.count(stop.contains) <= ts.size)
    }
    val g = label.values.count(identity).toLong
    val b = label.size - g
    assert(g > 0 && b > 0, "weak-label rule is vacuous on this corpus")
    val df = toks.toSeq.flatMap { case (d, ts) => ts.distinct.map(_ -> d) }
      .groupBy(_._1).map { case (t, xs) =>
        val gw = xs.count { case (_, d) => label(d) }.toLong
        t -> ((gw, xs.size - gw))
      }
    def vote(t: String): Int = {
      val (gw, bw) = df(t)
      val l = (gw + 1) * (b + 2); val r = (bw + 1) * (g + 2)
      if (l > r) 1 else if (l < r) -1 else 0
    }
    val got = TextOps.qualityClassifier(spark, sfDir).collect()
    assert(got.length === label.size)
    got.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val ts = toks(d).distinct
      val vg = ts.count(vote(_) == 1).toLong
      val vb = ts.count(vote(_) == -1).toLong
      assert(r.getAs[Boolean]("Label") === label(d), s"label mismatch for doc $d")
      assert(r.getAs[Long]("VotesGood") === vg, s"good votes mismatch for doc $d")
      assert(r.getAs[Long]("VotesBad") === vb, s"bad votes mismatch for doc $d")
      assert(r.getAs[Boolean]("Predicted") === (vg > vb))
    }
    // the distilled model must at least match the majority-class prior
    // on its own training labels (NB fits its training set or the
    // distillation is broken)
    val acc = got.count(_.getAs[Boolean]("Correct")).toDouble / got.length
    val prior = math.max(g, b).toDouble / label.size
    assert(acc >= prior, f"NB vote accuracy $acc%.3f below majority prior $prior%.3f")
  }

  test("span windows: duplicated-window fractions equal a driver recomputation") {
    val toks = docsTokens()
    val w = graft.ops.DedupOps.SpanWindowTokens
    def windows(ts: Seq[String]): Seq[String] =
      if (ts.size < w) Seq.empty
      else (0 to ts.size - w).map(i => ts.slice(i, i + w).mkString(" "))
    val byDoc = toks.map { case (d, ts) => d -> windows(ts) }
    val docsPerWindow = byDoc.toSeq
      .flatMap { case (d, ws) => ws.distinct.map(_ -> d) }
      .groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).distinct.size }
    val rows = graft.ops.DedupOps.spanWindows(spark, sfDir).collect()
    assert(rows.length === toks.size, "left join keeps every doc")
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val ws = byDoc(d)
      assert(r.getAs[Long]("NWindows") === ws.size.toLong, s"doc $d NWindows")
      val nd = ws.count(h => docsPerWindow(h) >= 2).toLong
      assert(r.getAs[Long]("NDupWindows") === nd, s"doc $d NDupWindows")
      val frac = if (ws.isEmpty) 0.0 else nd.toDouble / ws.size
      assert(math.abs(r.getAs[Double]("DupWindowFrac") - frac) < 1e-12)
      assert(r.getAs[Boolean]("IsFlagged") === (frac >= graft.ops.DedupOps.SpanDupFracFlag))
    }
    // the corpus's planted near-dups must surface as span duplication
    assert(rows.count(_.getAs[Long]("NDupWindows") > 0) > 0,
      "no cross-document spans found — operator is blind")
  }

  test("outliers: z-score flags equal a BigInt recomputation over kmeansProfile's own stats") {
    val prof = graft.ops.SimilarityOps.kmeansProfile(spark, sfDir).collect()
      .map(r => r.getAs[Long]("Cid") ->
        (r.getAs[Long]("NMembers"), r.getAs[Long]("SumDist"))).toMap
    val rows = graft.ops.SimilarityOps.outliers(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === rows.length,
      "one row per vector — no join fan-out")
    val s2 = BigInt(graft.ops.SimilarityOps.OutlierSigmas).pow(2)
    rows.groupBy(_.getAs[Long]("Cid")).foreach { case (cid, rs) =>
      val (nm, sd) = prof(cid)
      assert(rs.length.toLong === nm, s"cluster $cid member count")
      val dists = rs.map(_.getAs[Long]("DistQ"))
      assert(dists.sum === sd, s"cluster $cid dist sum")
      val sd2 = dists.map(d => BigInt(d) * d).sum
      val vt = BigInt(nm) * sd2 - BigInt(sd) * sd
      rs.foreach { r =>
        val dev = BigInt(r.getAs[Long]("DistQ")) * nm - sd
        assert(BigInt(r.getAs[Long]("DevQ")) === dev, "exact deviation column")
        val exp = dev > 0 && dev * dev > s2 * vt
        assert(r.getAs[Boolean]("IsOutlier") === exp,
          s"vec ${r.getAs[Long]("vec_id")} z-score flag")
      }
    }
    // uniform unit-norm synthetic vectors have NO organic outliers
    // (distances concentrate at 1/sqrt(d) relative spread) — a clean
    // corpus legitimately flags zero; the rule itself must fire on a
    // planted heavy tail
    val frac = rows.count(_.getAs[Boolean]("IsOutlier")).toDouble / rows.length
    assert(frac < 0.25, s"outlier fraction $frac out of band")
    val planted = Seq(100L, 100L, 100L, 100L, 100L, 100L, 100L, 100L, 100L, 400L)
    val n = planted.size
    val sdp = planted.sum
    val sd2p = planted.map(d => BigInt(d) * d).sum
    val vtp = BigInt(n) * sd2p - BigInt(sdp) * sdp
    val flags = planted.map { d =>
      val dev = BigInt(d) * n - sdp
      dev > 0 && dev * dev > s2 * vtp
    }
    assert(flags === Seq.fill(n - 1)(false) :+ true,
      "planted heavy tail must be the only flagged member")
  }

  test("medoids: sum-vector identity equals the brute-force pairwise medoid per cluster") {
    val lists = graft.ops.SimilarityOps.kmeansProfile(spark, sfDir) // ensure index built
    lists.collect()
    val got = graft.ops.SimilarityOps.medoids(spark, sfDir).collect()
    // brute force: collect quantized members per cluster and do the n²
    // the same persisted lists the operator reads
    val base = spark.read.parquet(
      graft.ops.SimilarityOps.ivfIndexPath(spark, sfDir) + "/lists")
    val members = base.select(col("Cid"), col("vec_id"), col("Q"), col("NormSq")).collect()
      .map(r => (r.getAs[Int]("Cid"), r.getAs[Long]("vec_id"),
        r.getAs[Seq[Long]]("Q").toArray, r.getAs[Long]("NormSq")))
    val byCluster = members.groupBy(_._1)
    assert(got.length === byCluster.size)
    got.foreach { r =>
      val cid = r.getAs[Long]("Cid").toInt
      val ms = byCluster(cid)
      def dist(a: (Int, Long, Array[Long], Long), b: (Int, Long, Array[Long], Long)): Long =
        a._4 - 2L * a._3.zip(b._3).map { case (x, y) => x * y }.sum + b._4
      val best = ms.map(m => (ms.map(o => dist(m, o)).sum, m._2)).min
      assert(r.getAs[Long]("MedoidId") === best._2, s"cluster $cid medoid")
      assert(r.getAs[Long]("MedoidTotalDistQ") === best._1, s"cluster $cid total dist")
      assert(r.getAs[Long]("NMembers") === ms.length.toLong)
    }
  }

  test("basket: pair metrics equal a driver recomputation; ordering is the declared total order") {
    val rows = graft.ops.GraphOps.basketPairLift(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= graft.ops.GraphOps.BasketTopK)
    val lp = graft.etl.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val baskets = lp.groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }
      .filter(_.size <= graft.ops.GraphOps.MaxOrderParts).toSeq
    val n = baskets.size.toLong
    val partN = baskets.flatten.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    def both(a: Long, b: Long): Long = baskets.count(s => s(a) && s(b)).toLong
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("PartA"), r.getAs[Long]("PartB"))
      assert(a < b)
      assert(r.getAs[Long]("NBaskets") === n)
      assert(r.getAs[Long]("NOrdersA") === partN(a))
      assert(r.getAs[Long]("NOrdersB") === partN(b))
      val nb = both(a, b)
      assert(r.getAs[Long]("NOrdersBoth") === nb, s"pair ($a,$b)")
      assert(r.getAs[Double]("Support") === nb.toDouble / n)
      assert(r.getAs[Double]("Confidence") === nb.toDouble / partN(a))
      assert(r.getAs[Double]("Lift") === (nb * n).toDouble / (partN(a) * partN(b)))
    }
    // declared total order: pair count desc, then (PartA, PartB)
    val keys = rows.map(r => (-r.getAs[Long]("NOrdersBoth"),
      r.getAs[Long]("PartA"), r.getAs[Long]("PartB"))).toSeq
    assert(keys === keys.sorted, "output not in the declared order")
  }

  test("stats: exact-power-sum Pearson agrees with Spark's corr to 1e-9 and is NULL-guarded") {
    val got = RelationalOps.statsCorrelation(spark, sfDir).collect()
    assert(got.nonEmpty)
    val ref = graft.etl.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("X"),
        floor(col("l_extendedprice")).cast("long").as("Y"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(corr(col("X"), col("Y")).as("R"),
        covar_pop(col("X"), col("Y")).as("C"),
        stddev_pop(col("X")).as("SX"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("R"), r.getAs[Double]("C"), r.getAs[Double]("SX"))).toMap
    got.foreach { r =>
      val k = (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"))
      val (er, ec, esx) = ref(k)
      assert(math.abs(r.getAs[Double]("PearsonR") - er) < 1e-9, s"$k corr")
      assert(math.abs(r.getAs[Double]("CovarPop") - ec) < 1e-6 * math.abs(ec), s"$k covar")
      assert(math.abs(r.getAs[Double]("StddevX") - esx) < 1e-9, s"$k stddev")
    }
  }

  test("prf: expansion is exactly 3 fresh corpus terms per query and the rerank stays consistent") {
    import graft.ops.{RetrievalOps, TextOps}
    val rows = RetrievalOps.prfExpand(spark, sfDir).collect()
    val orig = TextOps.Bm25Queries.toMap.map { case (q, s) => q -> s.split("\\s+").toSet }
    val byQ = rows.groupBy(_.getAs[Int]("QueryId"))
    assert(byQ.keySet === orig.keySet, "every query must produce a reranked list")
    byQ.foreach { case (q, rs) =>
      // one expansion string per query, PrfExpansionTerms fresh terms,
      // none of them original query terms
      val expSets = rs.map(_.getAs[String]("ExpTerms")).distinct
      assert(expSets.length === 1, s"query $q has inconsistent ExpTerms")
      val exp = expSets.head.split(",").filter(_.nonEmpty).toSet
      assert(exp.size === RetrievalOps.PrfExpansionTerms, s"query $q expansion $exp")
      assert(exp.intersect(orig(q)).isEmpty, s"query $q re-added its own terms: $exp")
      // ranked list shape: contiguous ranks, ScoreQ non-increasing,
      // every hit count bounded by the expanded vocabulary
      val sorted = rs.sortBy(_.getAs[Int]("Rank"))
      assert(sorted.map(_.getAs[Int]("Rank")).toSeq === (1 to rs.length))
      assert(rs.length <= TextOps.Bm25TopK)
      val scores = sorted.map(_.getAs[Long]("ScoreQ"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"query $q not ranked by score")
      rs.foreach { r =>
        assert(r.getAs[Int]("NTermsHit") <= orig(q).size + RetrievalOps.PrfExpansionTerms)
      }
    }
    // the feedback loop genuinely changes at least one query's ranking
    // (else the expansion did nothing on this corpus and the operator
    // is untested at gate scale)
    val firstPass = TextOps.bm25Topk(spark, sfDir).collect()
      .groupBy(_.getAs[Int]("QueryId"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("Rank")).map(_.getAs[Long]("doc_id")).toSeq }
    val second = byQ.map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("Rank")).map(_.getAs[Long]("doc_id")).toSeq }
    assert(firstPass.exists { case (q, docs) => second(q) != docs },
      "expansion changed no ranking — the PRF loop is vacuous on this corpus")
  }
}
