package graft

import org.apache.spark.sql.DataFrame

import graft.etl.{StarQueries, Summaries, Transactions}

/** Executable plan-quality assertions — the PERFORMANCE.md checklist
  * as regression tests, so an optimizer-hostile refactor (a sort that
  * stops collapsing into top-k, a filter that stops reaching parquet,
  * a dimension join that stops broadcasting) fails CI instead of
  * silently costing 10× at scale. Asserted on the pre-AQE physical
  * plan (`sparkPlan`), which is what these properties are decided on. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.sparkPlan.toString

  test("orderBy+limit plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Summaries.topProducts(Transactions.cleaned(spark, sfDir)))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), s"unexpected full sort:\n$p")
  }

  test("exact-boundary segments plan windowless with a broadcast boundary frame") {
    // the point of customer_segments_bounds vs the ntile path: the
    // three percentile_disc boundaries are a mergeable aggregate and
    // labeling is a broadcast-join map pass — no single-partition
    // global window anywhere
    val p = plan(Summaries.customerSegmentsBounds(Transactions.cleaned(spark, sfDir)))
    assert(!p.contains("Window ["), s"unexpected window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"boundary frame not broadcast:\n$p")
  }

  test("per-group top-n plans with WindowGroupLimit rank pushdown") {
    val p = plan(Summaries.topnPerCountry(Transactions.cleaned(spark, sfDir)))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("star join: filters reach parquet, dims broadcast, scan is pruned") {
    val p = plan(StarQueries.regionRollup(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // lineitem scan must read only the referenced columns, never the
    // full 11-column schema
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val lineitemScan = readSchemas.find(_.contains("l_orderkey"))
    assert(lineitemScan.isDefined, p)
    val nCols = lineitemScan.get.split(",").length
    assert(nCols <= 4, s"lineitem scan reads $nCols columns: ${lineitemScan.get}")
  }

  test("pivot with declared values is one aggregate pass (no discovery job)") {
    val df = graft.ops.RelationalOps.pivotCountryYear(spark, sfDir)
    val p = plan(df)
    // declared pivot values → (Country, Year) sum then Country
    // pivotfirst (2 phases each = 4 HashAggregates), ONE pass over the
    // fact stream, no Expand, and no values-discovery scan: the fact
    // input is read exactly once
    assert("HashAggregate".r.findAllIn(p).length <= 4, p)
    assert(!p.contains("Expand"), s"pivot should not Expand:\n$p")
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(scans.length == 1, s"fact stream read ${scans.length} times:\n$p")
  }

  test("grouping sets is a single Expand pass, not an N-way union") {
    val p = plan(graft.ops.RelationalOps.groupingSetsCountryYear(spark, sfDir))
    assert("Expand".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Union"), s"grouping sets planned as union:\n$p")
  }

  test("dedup clustering and curation never plan a cartesian product") {
    Seq(graft.ops.DedupOps.components(spark, sfDir),
      graft.ops.CurateOps.curate(spark, sfDir)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"quadratic join shape:\n$p")
    }
  }

  test("kmeans profile joins broadcast-shape and aggregates two-level (no window over members)") {
    val df = graft.ops.SimilarityOps.kmeansProfile(spark, sfDir)
    val p = plan(df)
    // the codebook and label joins must broadcast (≤K rows / narrow
    // dim) — a shuffled join here would re-shuffle the member stream
    assert(p.contains("BroadcastHashJoin"), p)
    // majority label resolves INSIDE the aggregate: no Window operator
    // may appear over the member stream (the count-then-rank shape
    // would sort every member row)
    assert(!p.contains("Window"), s"profile planned a window pass:\n$p")
  }

  test("range join plans as a hash join on the bin key, not a nested loop") {
    val df = graft.ops.RelationalOps.rangeJoinValueBands(spark, sfDir)
    val p = plan(df)
    // the naive interval join has no equi-key and planning it would
    // produce BroadcastNestedLoopJoin (or worse, CartesianProduct);
    // bin-and-replicate must restore a hash-joinable key
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join planned as nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // and the values equal the naive theta-join, bin math exact
    val got = df.collect().map(r => (r.getAs[String]("Band"),
      r.getAs[Long]("NEvents"), r.getAs[Double]("TotalValue"))).toSeq
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bands = graft.ops.RelationalOps.ValueBands.toDF("Band", "Lo", "Hi")
    val naive = graft.etl.Tables.events(spark, sfDir)
      .join(bands, col("value") >= col("Lo") && col("value") < col("Hi"))
      .groupBy(col("Band"), col("Lo"))
      .agg(count(lit(1)).as("NEvents"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("TotalValue"))
      .orderBy(col("Lo"))
      .collect().map(r => (r.getAs[String]("Band"),
        r.getAs[Long]("NEvents"), r.getAs[Double]("TotalValue"))).toSeq
    assert(got === naive)
    assert(got.map(_._2).sum > 0L)
  }

  test("IVF probe reads only the routed list partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // nprobe=1 gives the sharpest route (≤ |probes| of the K lists) so
    // genuine pruning is distinguishable from a full-partition read
    // even at sf0.001, where the default nprobe=4 route covers 15/16
    // centroids
    val nprobe = 1
    val route = graft.ops.SimilarityOps.probedListIds(spark, sfDir, nprobe = nprobe)
    val df = graft.ops.SimilarityOps.ivfTopk(spark, sfDir, nprobe = nprobe)
    val scans = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    val lists = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("/lists")))
    assert(lists.nonEmpty,
      s"no FileSourceScan over the persisted lists:\n${df.queryExecution.sparkPlan}")
    lists.foreach { f =>
      // the static route must reach the scan as a partition filter…
      val static = f.partitionFilters.filterNot(_.toString.contains("dynamicpruning"))
      assert(static.exists(_.toString.contains("Cid")),
        s"no static Cid partition filter on the lists scan: ${f.partitionFilters}")
      // …and actually prune file-index I/O: only routed partitions listed
      val read = f.relation.location.listFiles(static, f.dataFilters).length
      val all = f.relation.location.listFiles(Nil, Nil).length
      assert(read <= route.length,
        s"scan lists $read partitions for a ${route.length}-entry route")
      assert(read < all, s"no pruning: $read of $all list partitions read")
    }
  }

  test("IVF-PQ probe reads only the routed partitions of the codes table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // same sharpest-route argument as the lists-scan test above
    val nprobe = 1
    val route = graft.ops.SimilarityOps.probedListIds(spark, sfDir, nprobe = nprobe)
    val df = graft.ops.SimilarityOps.ivfpqTopk(spark, sfDir, nprobe = nprobe)
    val scans = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    val codes = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("/pqcodes")))
    assert(codes.nonEmpty,
      s"no FileSourceScan over the persisted PQ codes:\n${df.queryExecution.sparkPlan}")
    codes.foreach { f =>
      val static = f.partitionFilters.filterNot(_.toString.contains("dynamicpruning"))
      assert(static.exists(_.toString.contains("Cid")),
        s"no static Cid partition filter on the codes scan: ${f.partitionFilters}")
      val read = f.relation.location.listFiles(static, f.dataFilters).length
      val all = f.relation.location.listFiles(Nil, Nil).length
      assert(read <= route.length,
        s"codes scan lists $read partitions for a ${route.length}-entry route")
      assert(read < all, s"no pruning: $read of $all code partitions read")
    }
  }

  test("source-similarity estimate query has no shingle-keyed self-join") {
    // the declared 100 TB query must be runnable AS DECLARED: its only
    // joins are the |sources|²-scale pairwise frame — the Σ df²
    // shingle-keyed intersection join exists only in the calibration
    // twin
    def shingleJoin(p: String): Boolean =
      p.linesIterator.exists(l => l.contains("Join") && l.contains("Shingle"))
    val p = plan(graft.ops.TextOps.sourceSimilarity(spark, sfDir))
    assert(!shingleJoin(p), s"shingle-keyed join in the estimate plan:\n$p")
    val cal = plan(graft.ops.TextOps.sourceSimilarityCalibrate(spark, sfDir))
    assert(shingleJoin(cal), s"calibration twin lost its exact-intersection join:\n$cal")
  }

  test("tfidf explodes no corpus of its own and ranks via WindowGroupLimit") {
    val df = graft.ops.TextOps.tfidf(spark, sfDir)
    val p = plan(df)
    // tfidf rides the cached postings substrate: every Generate in the
    // plan text lives inside the InMemoryRelation's stored build plan
    // (which AQE prints twice once finalized — counting raw Generates
    // is ordering-flaky), so the operator's OWN pipeline — the text
    // before the first InMemoryRelation dump — must contain none
    val own = p.split("InMemoryRelation", 2)(0)
    assert(!own.contains("Generate"),
      s"tfidf exploded the corpus itself instead of riding the postings substrate:\n$p")
    assert(p.contains("InMemoryTableScan"), s"postings substrate not read from cache:\n$p")
    assert(p.contains("WindowGroupLimit"), p)
    // the only nested-loop join is the broadcast single-row N
    assert(!p.contains("CartesianProduct"), p)
  }

  test("decontaminate broadcasts the eval shingle set; n=3 reuses the dedup sketch cache") {
    // default (n=8): its own narrow token_shingles pass — no standing
    // cache to reuse, but the join shape contract is the same
    val p8 = plan(graft.ops.CurateOps.decontaminate(spark, sfDir))
    assert(p8.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p8")
    assert(!p8.contains("CartesianProduct") && !p8.contains("BroadcastNestedLoopJoin"),
      s"quadratic join shape:\n$p8")
    // n=3 rides the dedup family's memoized shingle cache
    graft.ops.DedupOps.sharedShingles(spark, sfDir) // ensure the cache is registered
    val p3 = plan(graft.ops.CurateOps.decontaminate(spark, sfDir, n = 3))
    assert(p3.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p3")
    assert(p3.contains("InMemoryTableScan"), s"shingle cache not reused:\n$p3")
    assert(!p3.contains("CartesianProduct") && !p3.contains("BroadcastNestedLoopJoin"),
      s"quadratic join shape:\n$p3")
  }

  test("summaries read the shared cleaned cache, not a join replay") {
    Transactions.cleaned(spark, sfDir) // ensure the cache is registered
    val p = plan(Summaries.countrySummary(Transactions.cleaned(spark, sfDir)))
    assert(p.contains("InMemoryTableScan"), p)
    // a replay of the 5-way cleaning join would scan raw parquet; every
    // input must come from the cache (the small distinct-count joins on
    // the Country key are legitimate and read the same cache). Tree
    // traversal, not string match: InMemoryRelation's printed form
    // embeds its own build plan's FileScans, which never execute.
    val scans = Summaries.countrySummary(Transactions.cleaned(spark, sfDir))
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scans.isEmpty,
      s"summary rescans base tables instead of the cleaned cache: $scans")
  }

  test("sequence packing windows per-source (sharded), never a global sort-window") {
    val df = graft.ops.CurateOps.packSequences(spark, sfDir)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected a window for the prefix sum")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"packing window is GLOBAL (single-partition bottleneck): $w")
      assert(w.partitionSpec.map(_.toString).exists(_.contains("source")),
        s"packing window not sharded on source: ${w.partitionSpec}")
    }
  }

  test("weighted sampling is one narrow scan pass: no joins, no aggregates, no window") {
    val p = plan(graft.ops.CurateOps.sampleWeighted(spark, sfDir))
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n$p")
    assert(!p.contains("Window ["), s"unexpected window:\n$p")
  }

  test("bm25 reads the cached postings substrate hit-filtered, ranks via WindowGroupLimit") {
    val df = graft.ops.TextOps.bm25Topk(spark, sfDir)
    val p = plan(df)
    // round 10: the tf table is the memoized docPostings inverted
    // index — the plan must scan the CACHED substrate (one build
    // shared by bm25/PRF/RRF/eval), with the query-vocabulary IN
    // filter applied on top so the pass stays hit-sized, and must NOT
    // re-run the corpus token explode (no Generate anywhere)
    assert(p.contains("InMemoryTableScan"),
      s"bm25 is not reading the cached postings substrate:\n$p")
    val gen = df.queryExecution.sparkPlan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gen.isEmpty,
      s"bm25 re-runs a corpus explode instead of riding the substrate:\n$p")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Term#") && (opt.contains(" IN ") || opt.contains("INSET")),
      s"query-vocabulary IN filter missing above the substrate scan:\n$opt")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dq referential rules plan as broadcast-able joins, never nested loops") {
    val p = plan(graft.ops.RelationalOps.dqChecks(spark, sfDir))
    // per-rule checked×violations crossJoins are 1-row broadcast
    // frames (the A13 pattern); a CartesianProduct would mean a rule
    // degenerated to a row-scale cross
    assert(!p.contains("CartesianProduct"), p)
    // the two referential rules are LeftAnti hash joins
    assert("LeftAnti".r.findAllIn(p).length >= 2,
      s"referential rules not planned as anti-joins:\n$p")
  }

  test("rfm and cohort windows run over post-aggregation frames only") {
    val cleaned = Transactions.cleaned(spark, sfDir)
    Seq(graft.etl.Summaries.customerRfm(cleaned),
        graft.etl.Summaries.cohortRetention(cleaned)).foreach { df =>
      val windows = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty)
      windows.foreach { w =>
        // every window's child chain must contain an aggregate — the
        // window never runs over raw transaction rows
        val hasAggBelow = w.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
          case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec => s
        }.nonEmpty
        assert(hasAggBelow, s"window over raw rows:\n$w")
      }
    }
  }

  test("pagerank rounds read the cached edge substrate, never rebuild the pair expansion") {
    val df = graft.ops.GraphOps.pagerank(spark, sfDir)
    // assert on the plan TREE: the cached relation is an
    // InMemoryTableScan LEAF, so a pair-expansion GenerateExec in the
    // traversal means some round re-derived edges instead of reading
    // the cache (the string form would false-positive on the cache's
    // own stored build plan)
    val sp = df.queryExecution.sparkPlan
    val scans = sp.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(scans.size >= 6,
      s"expected every round + deg to read the cached edges, got ${scans.size}:\n$sp")
    val gens = sp.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.isEmpty,
      s"a round re-derived the pair expansion instead of reading the cache:\n$sp")
    assert(!sp.toString.contains("CartesianProduct"), sp.toString)
  }

  test("LPA votes in ONE keyed exchange per round — label_argmax, no count+argmax cascade") {
    // r15 verdict #2: through round 15 each LPA round shuffled TWICE
    // (count by (Dst,Lbl), then argmax by Dst) — the iterative graph
    // family's dominant codec cost. The vote now runs as the single
    // mergeable label_argmax aggregate, so the plan must carry exactly
    // LpaRounds vote exchanges (hash on Dst) and no aggregate keyed by
    // (Dst, Lbl) anywhere in the loop.
    // the LOOP's plan (lpaLabels): the full query's community-size
    // join consumes the loop twice, duplicating every round's subtree
    // in the printed initial plan — assert on the loop itself. A
    // SYNTHETIC substrate, not the corpus: the gate query memoizes +
    // caches the corpus labeling, and Spark's CacheManager replaces
    // any semantically-equal plan with the cache scan — which would
    // erase the very exchanges this test counts
    val ep = graft.ops.GraphOps.lpaLabels(
        graft.tools.GraphScaleProbe.powerlawEdges(spark, 200, 2000))
      .queryExecution.executedPlan.toString
    val voteEx = ep.linesIterator
      .count(_.contains("Exchange hashpartitioning(Dst#"))
    assert(voteEx == graft.ops.GraphOps.LpaRounds,
      s"expected ${graft.ops.GraphOps.LpaRounds} per-round vote exchanges, got $voteEx:\n$ep")
    val partials = ep.linesIterator.count(_.contains("partial_label_argmax"))
    assert(partials == graft.ops.GraphOps.LpaRounds,
      s"expected one partial label_argmax per round (map-side combine), got $partials:\n$ep")
    assert(!ep.matches("(?s).*keys=\\[Dst#\\d+L, Lbl#.*"),
      s"a round re-grew the count-by-(Dst,Lbl) cascade:\n$ep")
  }

  test("hybrid RRF fuses two bounded top-k branches with one equi-join — no global sort, no cartesian") {
    val df = graft.ops.RetrievalOps.hybridRrf(spark, sfDir)
    val sp = df.queryExecution.sparkPlan
    val p = sp.toString
    // both branches must rank via per-group top-k (WindowGroupLimit
    // rank pushdown), never a global sort of the scored stream
    val wgl = "WindowGroupLimit".r.findAllIn(p).length
    assert(wgl >= 2, s"expected 2 bounded top-k branches, found $wgl:\n$p")
    // the fusion is an equi-join on (QueryId, doc_id): anything
    // nested-loop here means the rank keys got lost
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop allowed is the vector branch's bounded
    // probes×corpus scan (|probes| ≤ 8 by construction); the FUSION
    // join — the plan's one FullOuter node, which distinguishes it
    // from the branches' own inner equi-joins — must itself be
    // hash-equi on the rank keys (a refactor losing the
    // QueryId/doc_id keys would plan it as BroadcastNestedLoopJoin)
    import org.apache.spark.sql.catalyst.plans.FullOuter
    val fusionJoins = sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType == FullOuter => j.leftKeys.nonEmpty
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType == FullOuter => j.leftKeys.nonEmpty
    }
    assert(fusionJoins.nonEmpty && fusionJoins.forall(identity),
      s"the FullOuter fusion join is not a keyed hash/merge join:\n$p")
  }

  test("hierarchical assignment shuffles O(n·√K) rows — never the n·K flat-window blowup") {
    import org.apache.spark.sql.functions.col
    import graft.ops.SimilarityOps
    // build the persisted index once so the assignment reads it
    SimilarityOps.semanticDedup(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    val base = SimilarityOps.ivfIndexPath(spark, sfDir, SimilarityOps.DefaultNCentroids)
    val vecs = spark.read.parquet(s"$base/lists")
      .select(col("vec_id"), col("Q"), col("NormSq"))
    val cent = spark.read.parquet(s"$base/codebook")
    val n = vecs.count()
    val k = cent.count()
    val coarseK = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    // task-metrics accumulator: AQE hides exchanges inside query
    // stages, so per-node plan metrics are awkward — total shuffle
    // records written across the job is the quantity the claim is
    // actually about
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SimilarityOps.assignHierarchical(vecs, cent).write
        .format("noop").mode("overwrite").save()
      // listener delivery is async: wait for the count to go quiet
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      while (last != records.get() && System.currentTimeMillis() < deadline) {
        last = records.get()
        Thread.sleep(300)
      }
      // Gate on the RATIO to the flat n·K term this test pins, not a
      // tight hand-derived additive budget: the O(n·√K) path's real
      // shuffle volume is ≈ n·(coarseK+3) + 64·K·rounds (orders of
      // magnitude under n·K), but partial-aggregation behavior, AQE
      // replans, and reused exchanges legitimately move the constant.
      // n·K/2 is far above any benign plan change and far below the
      // n·K blowup a flat-assignment regression would shuffle — the
      // only thing that crosses it is the regression itself.
      val expected = n * (coarseK + 3) + 64L * k * (SimilarityOps.KmeansRounds + 2)
      val nk = n * k
      assert(records.get() > 0L, "no shuffle records observed — listener broken?")
      assert(records.get() < nk / 2,
        s"hierarchical assignment shuffled ${records.get()} rows " +
          s"(O(n·√K) expectation ≈ $expected, n=$n, K=$k) — an n·K term ($nk) is leaking in")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("perceptual-hash passes pin their partition count — AQE cannot serialize the interpreted stage") {
    // the round-10 lesson: an unpinned repartition(doc_id) over a
    // few-MB corpus is coalesced by AQE to ONE post-shuffle partition,
    // serializing the per-row-expensive interpreted HOF hash pass
    // (measured 8.5 s vs 1.6 s at sf0.1). The explicit numPartitions
    // shows up as a shuffleorigin the coalescer must respect; this
    // test pins the plan property so a refactor to the unpinned form
    // fails here instead of in a bench artifact.
    // the hash table is eagerly localCheckpoint'd at construction, so
    // the repartition is invisible in the final plan — assert the
    // BEHAVIOR instead: the checkpointed RDD the query pins must hold
    // multiple partitions (the failure mode was exactly ONE)
    def newCheckpointPartitions(build: => org.apache.spark.sql.DataFrame): Seq[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      build // construction materializes the checkpoint
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.map(_.getNumPartitions).toSeq
    }
    Seq(
      ("ahash", () => graft.ops.MultimodalOps.ahashNeardup(spark, sfDir)),
      ("phash", () => graft.ops.MultimodalOps.phashNeardup(spark, sfDir)),
      ("audio", () => graft.ops.MultimodalOps.audioFingerprint(spark, sfDir))
    ).foreach { case (name, build) =>
      val parts = newCheckpointPartitions(build())
      assert(parts.nonEmpty, s"$name pinned no checkpoint — the single-scan claim broke")
      // assert the exact pinned count, not just > 1: a wrong-count
      // regression elsewhere would slip under a `> 1`. Since round 14
      // the documentsSpread width is SIZED by corpus rows (see
      // Tables.DocSpreadRowsPerPartition), so the expectation is the
      // sizing rule, not blanket defaultParallelism
      val want = docSpreadWant
      parts.foreach(p => assert(p == want,
        s"$name hash pass checkpointed into $p partition(s), expected $want — " +
          "AQE coalesced the unpinned repartition and serialized the interpreted stage"))
    }
  }

  test("routed kNN and split leakage never plan a quadratic join") {
    // the routed kNN's whole point is replacing the n² pair source
    // with a Cid-keyed equi-join; a refactor that loses the key would
    // silently plan a nested-loop and re-quadratize it. Same stake for
    // the leakage card's shingle-keyed join. The kNN assertion runs on
    // the PRE-checkpoint edge stage — the eager localCheckpoint in
    // knnGraphIvf hides that subtree from the final plan, which is
    // exactly where the candidate join lives (round-11 advice: the old
    // final-plan assert could not catch the regression it claimed to).
    // DPP replays the bounded routing subtree as a
    // SubqueryAdaptiveBroadcast to partition-prune the lists scan by
    // routed Cid (wanted at scale) — count joins in the MAIN tree
    // only, or the replayed codebook crossJoin double-counts.
    // Strip the SUBTREES, not everything after the first "Subquery"
    // token: main-tree operators BELOW a subquery-bearing node print
    // after it, and a whole-suffix cut would blind the assertions to
    // exactly the lower joins this guard exists to see (r12 advice).
    // A subtree = the Subquery* line plus every following line whose
    // operator name starts deeper (tree prefixes grow by 3 cols per
    // level, so column depth identifies the subtree extent).
    def mainTree(p: String): String = {
      def nameCol(l: String) = l.indexWhere(c => !" :+-".contains(c))
      val out = Seq.newBuilder[String]
      var skipDeeper = -1 // name-column of the Subquery node being skipped
      p.linesIterator.foreach { l =>
        val c = nameCol(l)
        if (skipDeeper >= 0 && c > skipDeeper) () // inside the subtree
        else {
          val name = if (c >= 0) l.substring(c) else ""
          if (name.startsWith("Subquery") || name.startsWith("ReusedSubquery"))
            skipDeeper = c
          else { skipDeeper = -1; out += l }
        }
      }
      out.result().mkString("\n")
    }
    Seq(
      ("knn_graph_ivf_edges",
        graft.ops.SimilarityOps.knnGraphIvfEdges(spark, sfDir)),
      ("split_leakage", graft.ops.CurateOps.splitLeakage(spark, sfDir))
    ).foreach { case (name, df) =>
      val p = mainTree(df.queryExecution.executedPlan.toString)
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
      // each card's ONE allowed nested loop is bounded: the K-row
      // broadcast codebook crossJoin (kNN routing) / the 3x3
      // split-pair frame (leakage); anything beyond that is wrong
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnl <= 1, s"$name planned $bnl nested-loop joins (allowed 1):\n$p")
    }
    // BOTH rank cuts must be combinable top-k AGGREGATES, never a
    // row_number window: the window form shuffles every input row to
    // sort per query — over the candidate join that is every
    // n·nprobe·(n/K) candidate row, and over the routing crossJoin it
    // is every n·K row STILL CARRYING the 64-long query vector (the
    // round-14 probe filled the disk exactly there at 1M queries ×
    // K=4472 before the routing moved to topk_edges). The aggregates
    // cross their exchanges as one O(k) buffer per query.
    val edgePlan = mainTree(graft.ops.SimilarityOps
      .knnGraphIvfEdges(spark, sfDir)
      .queryExecution.executedPlan.toString)
    val aggAt = edgePlan.indexOf("ObjectHashAggregate")
    val joinAt = edgePlan.indexOf("Join")
    assert(edgePlan.contains("topk_edges") && aggAt >= 0,
      s"knn_graph_ivf edge stage lost the combinable topk_edges aggregate:\n$edgePlan")
    assert(joinAt >= 0 && aggAt < joinAt,
      s"knn_graph_ivf rank aggregate not above the candidate join:\n$edgePlan")
    assert(!edgePlan.contains("Window"),
      s"knn_graph_ivf ranks through a Window (routing or edge stage):\n$edgePlan")
  }

  test("the dedup shingle substrate pins its partition count — the family-wide spread survives AQE") {
    // docShingles is the substrate under the ENTIRE dedup family
    // (bands, chunks, jaccard/containment prefixes, decontamination):
    // an AQE one-partition collapse there would serialize every md5
    // shingle pass. The repartition rides Tables.documentsSpread with
    // an explicit count (REPARTITION_BY_NUM), which the coalescer must
    // respect — assert the materialized substrate actually holds it.
    val sub = graft.ops.DedupOps.sharedShingles(spark, sfDir)
    sub.write.format("noop").mode("overwrite").save() // materialize the cache
    val parts = sub.rdd.getNumPartitions
    val want = docSpreadWant
    assert(parts == want,
      s"shingle substrate cached into $parts partition(s), expected $want — " +
        "the pinned documentsSpread repartition was lost or coalesced")
  }

  test("candidate joins size their own exchange from (n, K, nprobe) — the shuffle rule lives in the engine") {
    import graft.ops.SimilarityOps
    val session = spark.sessionState.conf.numShufflePartitions
    // the formula: session floor when the cap doesn't bind; ceil(candRows/cap)
    // when it does; clamped at the sanity ceiling
    assert(SimilarityOps.candidatePartitions(spark, 1.0) == session)
    assert(SimilarityOps.candidatePartitions(spark, 1e9, 5000000L) == 200)
    assert(SimilarityOps.candidatePartitions(spark, 1e30, 5000000L)
      == SimilarityOps.CandidateMaxPartitions)
    // the round-15 input-granularity bound: an exchange shuffling few
    // rows must not be split past rows/MinShuffleRowsPerTask reducers
    // no matter how large the arithmetic candidate fan-out is (one-row
    // shuffle slices = one compression frame per row — the full-20M
    // disk exhaustion), and the bound never drops below the session
    // floor nor binds when inputRows is not supplied
    assert(SimilarityOps.candidatePartitions(spark, 1e12, 5000000L,
      inputRows = 16384.0 * 1000) == 1000)
    assert(SimilarityOps.candidatePartitions(spark, 1e12, 5000000L,
      inputRows = 100.0) == session)
    assert(SimilarityOps.candidatePartitions(spark, 1e9, 5000000L,
      inputRows = 1e12) == 200)
    val n = graft.etl.Tables.embeddings(spark, sfDir).count()
    // routed-kNN edge stage, cap forced tiny so the rule binds at gate
    // scale: BOTH candidate-join inputs must plan pinned
    // REPARTITION_BY_NUM exchanges at the computed width (the join
    // then reuses them; no session-width exchange re-plans the join)
    val cand = n.toDouble * SimilarityOps.DefaultNProbe *
      math.max(1.0, n.toDouble / SimilarityOps.DefaultNCentroids)
    val cap = 1000L
    val p = math.max(session, math.ceil(cand / cap).toInt)
    assert(p > session, "fixture too small — the forced cap no longer binds")
    // minRowsPerTask forced to 1 so the gate-scale input row count
    // (n·nprobe + n) cannot bind — this leg exercises the output cap
    val sizedPlan = SimilarityOps.knnGraphIvfEdges(spark, sfDir,
        capRowsPerTask = cap, minRowsPerTask = 1L)
      .queryExecution.executedPlan.toString
    val marker = s", $p), REPARTITION_BY_NUM"
    val hits = sizedPlan.sliding(marker.length).count(_ == marker)
    // ≥ 2: both join inputs in the main tree; the DPP
    // SubqueryBroadcast on the lists scan REPLAYS the routing subtree
    // (see the mainTree note in the quadratic-join test), which can
    // print the routes-side exchange a third time
    assert(hits >= 2,
      s"expected both candidate-join inputs exchanged at the computed width $p, " +
        s"found $hits:\n$sizedPlan")
    // with the production cap the gate-scale candidate volume computes
    // UNDER the session floor — the plan must stay byte-untouched (no
    // exchange at any width the sizing could have introduced)
    val defaultPlan = SimilarityOps.knnGraphIvfEdges(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!defaultPlan.contains(marker),
      s"gate-scale plan grew a sized exchange the cap should not bind:\n$defaultPlan")
    // and with the PRODUCTION granularity floor the same forced cap
    // must NOT widen the exchange: the fixture shuffles only
    // n·nprobe + n rows, so the input bound clamps the width back to
    // the session floor (the round-15 fragmentation guard, asserted
    // from the plan side)
    val clampedPlan = SimilarityOps.knnGraphIvfEdges(spark, sfDir,
        capRowsPerTask = cap)
      .queryExecution.executedPlan.toString
    assert(!clampedPlan.contains(marker),
      s"input-granularity bound failed to clamp a fan-out-sized exchange:\n$clampedPlan")
    // the semantic-dedup verify join sizes the same way (n²/2K)
    val base = SimilarityOps.ivfIndexPath(spark, sfDir, SimilarityOps.DefaultNCentroids)
    val pd = math.max(session, math.ceil(
      n.toDouble * n / (2.0 * SimilarityOps.DefaultNCentroids) / 200.0).toInt)
    assert(pd > session, "fixture too small — the verify-join cap no longer binds")
    val dedupPlan = SimilarityOps.semanticDedupFrom(spark, sfDir,
        spark.read.parquet(s"$base/lists"), SimilarityOps.DefaultSemDedupThreshold,
        sizedForK = SimilarityOps.DefaultNCentroids, capRowsPerTask = 200L)
      .queryExecution.executedPlan.toString
    val dMarker = s", $pd), REPARTITION_BY_NUM"
    assert(dedupPlan.contains(dMarker),
      s"semantic-dedup verify join lost its sized exchange (wanted width $pd):\n$dedupPlan")
  }

  /** The row-sized documentsSpread width this corpus should pin —
    * the round-14 sizing rule replayed independently of the engine's
    * arithmetic (ceil(rows / DocSpreadRowsPerPartition), clamped to
    * [1, defaultParallelism]). */
  private def docSpreadWant: Int = {
    val rows = graft.etl.Tables.documents(spark, sfDir).count()
    val per = graft.etl.Tables.DocSpreadRowsPerPartition
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      (rows + per - 1L) / per)).toInt
  }
}
