package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Substrates
import graft.etl.Tables

/** Graph analytics over relationally-derived graphs — the family next
  * to DedupOps.componentsOf (connected components): damped PageRank in
  * PURE INTEGER arithmetic, over the product co-purchase graph mined
  * from the fact table.
  *
  * Why integer: classic PageRank iterates `r' = (1-d)/n + d·Σ r/deg`
  * in doubles, whose sums are shuffle-order-dependent — the same
  * nondeterminism the Summaries scaladoc banishes. Here ranks are
  * LONGS scaled by [[RankScale]]; each contribution is an integer
  * floor-division `rank div outdeg`, the damping is `(85·in) div 100`,
  * and the teleport term is a constant long — every step exact,
  * associative, and bit-identical in any engine, so the DuckDB mirror
  * (the same five unrolled iterations as chained CTEs) hash-matches.
  * Floor losses strictly shrink total mass (bounded by n·(deg+2) units
  * of 1e-9 per round) — a documented, deterministic quantization.
  *
  * Scale shape: one iteration = one equi-join of the edge list with
  * the rank table on the source key + one hash aggregate on the
  * destination key — the Pregel/GraphX message-passing shape, where
  * the edge list (bucketed on Src in production) never re-shuffles.
  * Iteration count is FIXED ([[PageRankIters]]), not convergence-run:
  * fixed-horizon PageRank is the standard batch formulation (the
  * convergence-run variant belongs with componentsOf's changed-count
  * loop). Per-order pair expansion is capped at [[MaxOrderParts]]
  * distinct parts (TPC-H orders have ≤ 7 — the cap is the hot-key
  * guard for corpora with pathological mega-orders, same argument as
  * DedupOps.HotBandMaxOccupancy).
  */
object GraphOps {

  /** Fixed damped-iteration count (shared with the DuckDB mirror). */
  val PageRankIters = 5
  /** Damping factor 0.85 as an exact integer ratio. */
  val DampNum = 85L
  val DampDen = 100L
  /** Rank fixed-point scale: rank 1.0 ≡ 1e9 units. */
  val RankScale = 1000000000L
  /** Per-node teleport mass `(1-d)·RankScale` = 150_000_000. */
  val TeleportQ: Long = RankScale * (DampDen - DampNum) / DampDen
  /** Orders with more distinct parts than this are excluded from the
    * pair expansion (quadratic hot-key guard; TPC-H max is 7). */
  val MaxOrderParts = 50

  /** Per-round rank/label lookup join — deliberately UNHINTED (r17
    * measured): a `shuffle_hash` hint on the node-sized side looked
    * right on paper (never sort the m-row side), but at gate scale it
    * BLOCKS AQE's runtime broadcast upgrade, and the broadcast plan is
    * strictly better — the node side ships once and the cached
    * Src-partitioned edge side is joined map-side with ZERO exchanges
    * (hinted A/B at sf0.1: pagerank 3.25 → 6.49 s, kcore 4.67 →
    * 11.7 s WORSE under the hint; reverted). At cluster scale, where
    * the node table outgrows broadcast, the planner's sort-merge is
    * the spill-safe choice and the sort cost is amortized across the
    * round's full shuffle — forcing SHJ there risks build-side OOM on
    * skewed label states for a constant-factor win. */
  private def joinEdgesOnSrc(edges: DataFrame, nodeTable: DataFrame,
                             cond: Column): DataFrame =
    edges.join(nodeTable, cond)

  /** Undirected co-purchase edge list (Src, Dst), both directions, one
    * row per distinct part pair that shares at least one order.
    *
    * Built in ONE pass: distinct (order, part) → collect the ≤
    * [[MaxOrderParts]] parts per order → explode the within-order pair
    * array (a codegen'd HOF cross of a ≤50-element array — bounded
    * quadratic, the declared cap) → global distinct on the pair key.
    * No self-join diamond: the per-order array form reads the fact
    * table once.
    *
    * Memoized + `.cache()`d per (session, dir) like DedupOps.docBands:
    * the edge list is the graph family's shared substrate — every
    * PageRank round (and any future graph op) re-reads it, and in
    * production it is a materialized table the iteration never
    * rebuilds (the GraphX/Pregel shape). The uncached form re-derived
    * the four edge-build stages under every materialization. */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "graph.coPurchaseEdges") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("OrderKey"), col("l_partkey").as("Part"))
        .distinct()
        .groupBy(col("OrderKey"))
        .agg(collect_list(col("Part")).as("Ps"))
        .filter(size(col("Ps")).between(2, MaxOrderParts))
        .select(explode(expr(
          """flatten(transform(Ps, x -> transform(Ps, y -> struct(x as Src, y as Dst))))"""))
          .as("E"))
        .select(col("E.Src").as("Src"), col("E.Dst").as("Dst"))
        .filter(col("Src") =!= col("Dst"))
        .distinct()
        // carry the source's out-degree ON the edge row (count window
        // over the Src partition): each PageRank round then needs ONE
        // join (rank lookup) + ONE aggregate, no separate deg join —
        // at five rounds that halves the stage count
        .withColumn("OutDeg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("Src"))))
        // the window's own exchange leaves the data hash-partitioned
        // on Src — the cached layout every round's edge⋈rank join
        // reuses; an explicit repartition(Src) here would be a second
        // consecutive shuffle on the same key
        .cache()
    }

  /** (Src, OutDeg) — one row per node of a degree-carrying edge
    * substrate. Every kernel in this family starts from it. */
  private def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("Src"), col("OutDeg")).distinct()

  /** The corpus node/degree table, memoized + `.cache()`d per
    * (session, dir) beside [[coPurchaseEdges]] (r17): all eight gate
    * graph queries re-derived it per invocation as a distinct over the
    * m-row cached substrate (~0.3-0.8 s each at sf0.1). Node-sized
    * cache; evicted by [[Substrates.invalidate]]; the `*Of` kernel forms
    * still derive it fresh so probes measure the real cost. */
  private[graft] def degreesFor(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "graph.degrees") {
      degreesOf(coPurchaseEdges(spark, dir)).cache()
    }

  /** Pairs reported by [[basketPairLift]]. */
  val BasketTopK = 50

  /** MARKET-BASKET PAIR ANALYSIS — support / confidence / lift for
    * co-purchased part pairs, the classic association-mining report
    * over the same basket universe as [[coPurchaseEdges]] (orders
    * capped at [[MaxOrderParts]] distinct parts; the hot-key guard is
    * part of the metric's definition, shared with the mirror).
    *
    * Every metric is a ratio of exact integer counts over one basket
    * universe: support = both/N, confidence = both/n_A,
    * lift = both·N/(n_A·n_B) — deterministic divisions of identical
    * integers, so the doubles hash-match. Top-[[BasketTopK]] by
    * (pair count desc, PartA, PartB) — a total order, planning as
    * TakeOrderedAndProject.
    *
    * Scale shape: baskets collect per order (bounded arrays), the pair
    * expansion is the same capped HOF cross as the edge build but
    * KEEPING per-order multiplicity collapsed to one row per (order,
    * pair) — pair counts then hash-aggregate on uniform pair keys; the
    * per-part order counts and the 1-row basket total broadcast back
    * onto the pair table. */
  def basketPairLift(spark: SparkSession, dir: String): DataFrame = {
    val lp = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("OrderKey"), col("l_partkey").as("Part"))
      .distinct()
    // Pin the basket table (order-count-sized, bounded ≤MaxOrderParts
    // arrays): it feeds FOUR consumers (the basket total, both
    // per-part count arms, and the pair expansion), and unpinned the
    // whole scan→distinct→collect chain (2 exchanges + an object
    // hash aggregate over the fact table) re-ran per consumer — the
    // r18 before-plan shows the identical subtree four times (guide
    // §5 reuse-over-recompute; the theilSenTrend pin rule).
    val baskets = lp.groupBy(col("OrderKey"))
      .agg(collect_list(col("Part")).as("Ps"))
      .filter(size(col("Ps")) <= MaxOrderParts)
      .localCheckpoint()
    val total = baskets.agg(count(lit(1)).as("NBaskets"))
    val partN = baskets
      .select(explode(col("Ps")).as("Part"))
      .groupBy(col("Part")).agg(count(lit(1)).as("NOrders"))
    val pairs = baskets
      .filter(size(col("Ps")) >= 2)
      .select(explode(expr(
        """filter(flatten(transform(Ps, x -> transform(Ps, y -> struct(x as A, y as B)))),
          |  p -> p.A < p.B)""".stripMargin)).as("P"))
      .select(col("P.A").as("PartA"), col("P.B").as("PartB"))
      .groupBy(col("PartA"), col("PartB"))
      .agg(count(lit(1)).as("NOrdersBoth"))
    pairs
      .join(partN.select(col("Part").as("PartA"), col("NOrders").as("NOrdersA")), "PartA")
      .join(partN.select(col("Part").as("PartB"), col("NOrders").as("NOrdersB")), "PartB")
      .crossJoin(broadcast(total))
      .select(col("PartA"), col("PartB"), col("NOrdersBoth"),
        col("NOrdersA"), col("NOrdersB"), col("NBaskets"),
        (col("NOrdersBoth").cast(DoubleType) / col("NBaskets")).as("Support"),
        (col("NOrdersBoth").cast(DoubleType) / col("NOrdersA")).as("Confidence"),
        ((col("NOrdersBoth") * col("NBaskets")).cast(DoubleType) /
          (col("NOrdersA") * col("NOrdersB"))).as("Lift"))
      .orderBy(col("NOrdersBoth").desc, col("PartA"), col("PartB"))
      .limit(BasketTopK)
  }

  /** Fixed-horizon integer PageRank over [[coPurchaseEdges]]: per part,
    * its co-purchase degree and its rank in [[RankScale]] fixed-point
    * units after [[PageRankIters]] damped rounds from a uniform start.
    * Hub parts (co-bought with many frequently-co-bought parts) rank
    * highest — the "anchor product" signal.
    *
    * Int64 ceiling (the EventsOps/SimilarityOps documentation rule):
    * the damping step multiplies a node's aggregate in-mass `InQ` by
    * [[DampNum]] before the integer divide, so it overflows long once
    * `InQ` nears `Long.MaxValue / DampNum` ≈ 1.08e17 units — at
    * [[RankScale]] = 1e9 that is a single node absorbing ~1.08e8
    * nodes' worth of rank mass, i.e. graphs around 1e8 nodes with one
    * total-mass sink. Below that the arithmetic is exact; a caller at
    * that scale should lower RankScale (rank precision trades 1:1
    * against headroom) or promote the damping multiply to
    * decimal(38,0) the way `similarity_outliers` does its
    * cross-multiplied z-rule. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOf(coPurchaseEdges(spark, dir), Some(degreesFor(spark, dir)))

  /** [[pagerank]] over ANY degree-carrying (Src, Dst, OutDeg)
    * both-directions edge substrate — the kernels are graph-generic;
    * the (spark, dir) forms bind them to the co-purchase graph. The
    * split is what lets GraphScaleProbe drive the same code over a
    * synthesized power-law corpus decades larger than the fact-table
    * graph. */
  def pagerankOf(edges: DataFrame, degOpt: Option[DataFrame] = None): DataFrame = {
    val deg = degOpt.getOrElse(degreesOf(edges))
    var ranks = deg.select(col("Src").as("Node"), lit(RankScale).as("RankQ"))
    for (_ <- 1 to PageRankIters) {
      // ONE join (rank lookup on the degree-carrying cached edges) +
      // ONE Dst-keyed aggregate per round; in an undirected graph
      // every node receives mass, so no node can drop out of the
      // aggregate (a directed caller would left-join deg back in)
      ranks = joinEdgesOnSrc(edges, ranks, edges("Src") === ranks("Node"))
        .select(col("Dst"), expr("RankQ div OutDeg").as("Contrib"))
        .groupBy(col("Dst")).agg(sum(col("Contrib")).as("InQ"))
        .select(col("Dst").as("Node"),
          (lit(TeleportQ) +
            expr(s"($DampNum * InQ) div $DampDen")).as("RankQ"))
    }
    ranks.join(deg, ranks("Node") === deg("Src"))
      .select(col("Node").as("PartKey"), col("OutDeg"), col("RankQ"))
      .orderBy(col("PartKey"))
  }

  /** TRIANGLE COUNTING + local clustering coefficient over the
    * co-purchase graph — the standard distributed formulation with
    * DEGREE ORIENTATION (Suri & Vassilvitskii, "Counting Triangles
    * and the Curse of the Last Reducer", WWW 2011): orient every
    * undirected edge from its lower-(degree, id) endpoint to its
    * higher one, enumerate wedges as pairs of ORIENTED out-neighbors,
    * and close them with one equi-join back on the oriented edges.
    *
    * Why orientation is the whole scale story: a naive wedge
    * enumeration fans out Σ deg(u)² rows — one celebrity node of
    * degree 10⁶ alone emits 10¹² wedges into a single reducer. Under
    * degree orientation each node's ORIENTED out-degree is O(√m)
    * regardless of its raw degree (a node keeps only edges toward
    * higher-degree peers, and there can be at most 2√m nodes of
    * degree ≥ √m), so wedge volume is bounded by O(m^{3/2}) TOTAL and
    * the per-key fan-out is capped — the hot-key guard is structural,
    * not a tuning constant. Each triangle {a,b,c} (orientation order
    * a<b<c) is found exactly once: at apex a with wedge (b,c) closed
    * by oriented edge b→c.
    *
    * Exactness: counts are integers; ClustCoeff = 2T/(d(d−1)) is one
    * deterministic division of exact integers (0.0 when d < 2). The
    * mirror counts the same triangles via plain id-ordering — the
    * count per node is orientation-independent, so hash equality also
    * checks that the degree-oriented plan loses/invents nothing. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val (o, bloomBytes) = orientedBloomFor(spark, dir)
    trianglesFrom(degreesFor(spark, dir)
      .select(col("Src").as("N"), col("OutDeg").as("Deg")), o, bloomBytes)
  }

  /** [[triangles]] over any degree-carrying edge substrate (see
    * [[pagerankOf]]) — memo-free: probes measure the full build. */
  def trianglesOf(e: DataFrame): DataFrame = trianglesPinned(e)._1

  /** [[trianglesOf]] plus the oriented pin it reads, for a caller that
    * releases the pin itself (GraphScaleProbe). */
  private[graft] def trianglesPinned(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = e.select(col("Src").as("N"), col("OutDeg").as("Deg")).distinct()
    val (o, bloomBytes) = orientedWithBloom(e, deg)
    (trianglesFrom(deg, o, bloomBytes), o)
  }

  /** The degree-ORIENTED edge set (lower-(deg, id) → higher-(deg, id)
    * direction only, m/2 rows, cache-pinned) plus the Bloom filter
    * over its (Src, Dst) keys.
    *
    * The pin is REPARTITIONED by Src at full parallelism and held as
    * a plan-visible `.persist()` rather than a `localCheckpoint`
    * (r18): a checkpoint scan reports UnknownPartitioning, so the r17
    * checkpoint bought partition COUNT but not co-partitioning — the
    * committed r17 after-plan shows the wedge self-join re-shuffling
    * BOTH sides of the m/2-row table (Exchange 61/64 under SHJ 65).
    * InMemoryTableScan PRESERVES the cached plan's HashPartitioning
    * (Src, width), so the wedge self-join on the apex key plans with
    * no Exchange under either side, and the explicit width keeps the
    * wedge enumeration — the O(m^{3/2}) per-row-expensive pass —
    * cluster-wide where AQE's byte-sized coalescing collapsed a
    * ~10 MB input to 8 tasks and serialized 40-60 s of enumeration
    * CPU (JobProfileProbe, sf0.1). The returned frame holds the
    * cache: the memoized path's registry entry releases it
    * ([[Substrates.invalidate]]), a probe unpersists it itself
    * ([[trianglesPinned]]). Entries are keyed by canonicalized plan,
    * so repeated [[trianglesOf]] calls over one substrate share one
    * entry instead of leaking one per call. */
  private[graft] def orientedWithBloom(e: DataFrame,
                                       deg: DataFrame): (DataFrame, Array[Byte]) = {
    val spark = e.sparkSession
    graft.functions.SketchAggregates.register(spark)
    // edge rows carrying BOTH endpoint degrees (one node-sized join —
    // unhinted, the joinEdgesOnSrc rationale: AQE broadcasts deg)
    val withDd = e
      .join(deg.select(col("N").as("DstN"), col("Deg").as("DegD")),
        col("Dst") === col("DstN"))
      .select(col("Src"), col("Dst"), col("OutDeg").as("DegS"), col("DegD"))
    val width = math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    val o = withDd.filter(col("DegS") < col("DegD") ||
        (col("DegS") === col("DegD") && col("Src") < col("Dst")))
      .repartition(width, col("Src"))
      .persist()
    val edgeKeys = o.count() // materializes the pin
    val log2Bits = math.min(26, math.max(16,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, edgeKeys * 10L - 1L))))
    val bloomBytes = o
      .agg(expr(s"bloom_build(xxhash64(Src, Dst), $log2Bits)").as("BF"))
      .head().getAs[Array[Byte]](0)
    (o, bloomBytes)
  }

  /** [[orientedWithBloom]] over the corpus co-purchase substrate,
    * memoized per (session, dir) like [[lpaLabelsFor]] (r16 verdict
    * task #2): every `graph_triangles` invocation re-ran the oriented
    * checkpoint build, its count, and the bloom aggregate (~3 s of the
    * gate wall at sf0.1) even though the edge substrate itself was
    * memoized. Released by [[Substrates.invalidate]]; the memo-free
    * [[trianglesOf]] path is untouched, so probes still measure the
    * full build. */
  private[graft] def orientedBloomFor(spark: SparkSession,
                                      dir: String): (DataFrame, Array[Byte]) =
    Substrates[(DataFrame, Array[Byte])](spark, dir, "graph.orientedBloom")(
      _._1.unpersist(false))(
      orientedWithBloom(coPurchaseEdges(spark, dir), degreesFor(spark, dir)
        .select(col("Src").as("N"), col("OutDeg").as("Deg"))))

  /** The wedge-enumerate / bloom-prune / exact-close kernel over the
    * cache-pinned oriented edge set (see [[orientedWithBloom]]). The
    * closure join hash-builds the m/2-row closing side instead of
    * sort-merging (r17): post-prune the wedge side is ~closing-sized,
    * and the SHJ drops both sides' sorts from the hot stage. */
  private def trianglesFrom(deg: DataFrame, o: DataFrame,
                            bloomBytes: Array[Byte]): DataFrame = {
    val e1 = o.select(col("Src").as("U"), col("Dst").as("V"), col("DegD").as("DegV"))
    val e2 = o.select(col("Src").as("U2"), col("Dst").as("W"), col("DegD").as("DegW"))
    // wedges at apex U: ordered pairs of out-neighbors (V before W) —
    // both sides are InMemoryTableScans of the SAME cache pinned
    // HashPartitioning(Src, width), so the self-join plans with no
    // Exchange under either side (r18); the hash build keeps the
    // enumeration sort-free
    val wedges = e1.join(e2.hint("shuffle_hash"), col("U") === col("U2") &&
        (col("DegV") < col("DegW") || (col("DegV") === col("DegW") && col("V") < col("W"))))
      .select(col("U"), col("V"), col("W"))
    val closing = o.select(col("Src").as("CV"), col("Dst").as("CW"))
    // Bloom-prune wedges BEFORE the closure exchange (round 16): most
    // wedges do not close (sf0.1: 41.1M wedges, 1.88M closing), yet
    // all of them crossed the (V, W) exchange to meet the edge set.
    // The exact closure join then removes the false positives, so
    // results are bit-identical (the join_bloom_pruned pattern applied
    // to the engine's own heaviest self-join). The bytes stay an
    // expression LITERAL deliberately (r16 verdict watch item #2
    // weighed and declined, r17): a literal evaluates to one shared
    // array reference, where a broadcast-relation column pays an
    // UnsafeRow.getBinary COPY of the ≤8 MB filter PER WEDGE — a
    // prototyped broadcast variant ran minutes-for-seconds at sf0.1.
    // The literal rides the task binary of exactly the two consuming
    // stages; torrent broadcast of task binaries bounds the re-ship.
    val prunedWedges = wedges.filter(call_function("bloom_contains",
      lit(bloomBytes), xxhash64(col("V"), col("W"))))
    val tris = prunedWedges.join(closing.hint("shuffle_hash"),
        col("V") === col("CV") && col("W") === col("CW"))
      .select(col("U"), col("V"), col("W"))
    val perNode = tris
      .select(explode(array(col("U"), col("V"), col("W"))).as("N"))
      .groupBy(col("N")).agg(count(lit(1)).as("T"))
    deg.join(perNode, Seq("N"), "left")
      .select(col("N").as("PartKey"),
        col("Deg").cast(LongType).as("Degree"),
        coalesce(col("T"), lit(0L)).as("NTriangles"))
      .withColumn("ClustCoeff",
        when(col("Degree") >= 2,
          (col("NTriangles") * 2).cast(DoubleType) /
            (col("Degree") * (col("Degree") - 1)).cast(DoubleType))
          .otherwise(lit(0.0)))
      .orderBy(col("PartKey"))
  }

  /** Synchronous label-propagation rounds (shared with the mirror). */
  val LpaRounds = 4

  /** COMMUNITY DETECTION by fixed-round synchronous label propagation
    * (Raghavan, Albert & Kumara 2007, "Near linear time algorithm to
    * detect community structures in large-scale networks") over
    * [[coPurchaseEdges]]: every node starts labeled with its own id;
    * each round it adopts the label most frequent among its neighbors,
    * ties broken by the SMALLEST label — a fully deterministic variant
    * of the (classically randomized) update, so both engines and any
    * shuffle order produce the identical labeling. Fixed
    * [[LpaRounds]] synchronous rounds rather than convergence-run:
    * synchronous LPA can 2-cycle on near-bipartite structures, so a
    * fixed horizon is the standard batch discipline (the
    * convergence-run loop with a changed-count action belongs to
    * DedupOps.componentsOf, which has a monotone lattice and cannot
    * oscillate).
    *
    * Scale shape: one round = ONE equi-join of the cached
    * degree-carrying edge substrate with the node-sized label table on
    * Src + ONE object-hash aggregate keyed by Dst (`label_argmax` —
    * the whole plurality vote as a single mergeable label→count-map
    * aggregate, partial-aggregated map-side, so each round crosses
    * exactly one keyed exchange). Label state is node-sized; the edge
    * list never re-shuffles (bucketed on Src in production — the
    * Pregel shape shared with [[pagerank]]). The vote rule is highest
    * count then LOWEST label, with no window/sort in the loop.
    *
    * In an undirected graph every node has ≥1 neighbor, so no node
    * drops out of the vote aggregate (directed callers would left-join
    * the node universe back in — same note as pagerank). */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame =
    presentLabels(lpaLabelsFor(spark, dir))

  /** COMMUNITY QUALITY by Newman–Girvan modularity (Newman & Girvan
    * 2004, "Finding and evaluating community structure in networks")
    * over the [[labelPropagation]] labeling: per community c,
    * Q_c = e_c/2m − (D_c/2m)², where e_c counts DIRECTED intra-
    * community edges (both orientations of the symmetrized
    * substrate), D_c is the community's degree sum, and 2m = Σdeg =
    * the directed edge count — so Σ_c Q_c is the graph's modularity
    * Q ∈ [−1/2, 1). The card turns the LPA labeling from "here are
    * communities" into "and this is how much better than random
    * mixing they are" — the curation signal for whether a clustered
    * corpus split is structure or noise.
    *
    * Scale shape: the labeling is [[lpaLabels]] (node-sized state,
    * one keyed exchange per round); on top of it, ONE pass joining
    * the cached edge list with the node-sized label table on each
    * endpoint (the LPA round's own join shape, twice) for e_c, one
    * node-sized join+aggregate for (|c|, D_c), and a 1-row degree
    * total broadcast by cross join. Nothing beyond the labeling
    * exceeds O(m) work or O(#communities) output. */
  def modularity(spark: SparkSession, dir: String): DataFrame =
    modularityWith(coPurchaseEdges(spark, dir), lpaLabelsFor(spark, dir),
      Some(degreesFor(spark, dir)))

  /** [[modularity]] over any degree-carrying edge substrate
    * (memo-free — the labeling recomputes; probes and synthetic
    * corpora use this form). */
  def modularityOf(edges: DataFrame): DataFrame =
    modularityWith(edges, lpaLabels(edges))

  /** Modularity cards from an edge substrate and its labeling. */
  private def modularityWith(edges: DataFrame, labels: DataFrame,
                             degOpt: Option[DataFrame] = None): DataFrame = {
    val deg = degOpt.getOrElse(degreesOf(edges))
    val twoM = deg.agg(sum(col("OutDeg")).as("TwoM")) // 1 row
    val intra = edges
      .join(labels.select(col("Node").as("Src"), col("Lbl").as("SL")), "Src")
      .join(labels.select(col("Node").as("Dst"), col("Lbl").as("DL")), "Dst")
      .filter(col("SL") === col("DL"))
      .groupBy(col("SL")).agg(count(lit(1)).as("IntraEdges"))
    val comm = labels.join(deg, labels("Node") === deg("Src"))
      .groupBy(col("Lbl"))
      .agg(count(lit(1)).as("CommunitySize"), sum(col("OutDeg")).as("DegreeSum"))
    // e_c/2m − (D_c/2m)² with the division-first operation order the
    // oracle mirrors verbatim (IEEE-identical across engines)
    val ratioE = col("IntraEdges").cast(DoubleType) / col("TwoM").cast(DoubleType)
    val ratioD = col("DegreeSum").cast(DoubleType) / col("TwoM").cast(DoubleType)
    comm.join(intra, comm("Lbl") === intra("SL"), "left")
      .withColumn("IntraEdges", coalesce(col("IntraEdges"), lit(0L)))
      .crossJoin(twoM)
      .select(col("Lbl").as("Community"), col("CommunitySize"),
        col("IntraEdges"), col("DegreeSum"),
        (ratioE - ratioD * ratioD).as("Contribution"))
      .orderBy(col("Community"))
  }

  /** The synchronous vote loop alone — (Node, Lbl) after
    * [[LpaRounds]] rounds. Factored so the plan contract ("one keyed
    * exchange per round") is assertable on the loop itself: the
    * community-size join in [[labelPropagationOf]] consumes this
    * frame twice, which duplicates (and re-aliases) every round's
    * subtree in the printed initial plan — AQE stage reuse dedups it
    * at runtime, but a plan test on the joined form can't count
    * rounds. */
  private[graft] def lpaLabels(edges: DataFrame): DataFrame = {
    graft.functions.SketchAggregates.register(edges.sparkSession)
    val deg = edges.select(col("Src"), col("OutDeg")).distinct()
    var labels = deg.select(col("Src").as("Node"), col("Src").as("Lbl"))
    for (_ <- 1 to LpaRounds) {
      labels = joinEdgesOnSrc(edges, labels, edges("Src") === labels("Node"))
        .groupBy(col("Dst"))
        .agg(expr("label_argmax(Lbl)").as("Lbl"))
        .select(col("Dst").as("Node"), col("Lbl"))
    }
    labels
  }

  /** [[labelPropagation]] over any degree-carrying edge substrate
    * (see [[pagerankOf]]).
    *
    * Round 16: the per-round vote runs as ONE keyed exchange. Through
    * round 15 each round shuffled TWICE — count by (Dst, Lbl), then
    * argmax by Dst — and with `LpaRounds` unrolled rounds that pair
    * of exchanges dominated the iterative graph family's codec bill
    * (the r15 zstd A/B's biggest mover: 2.13 → 3.98 s at gate scale).
    * [[graft.functions.SketchAggregates.LabelArgmax]] collapses the
    * vote into a single mergeable aggregate (label→count map buffer,
    * highest count wins, ties to the LOWEST label — the same rule the
    * max-of-struct encoded), so a round is now join + one
    * groupBy(Dst) exchange, with map-side partial aggregation
    * combining each task's votes before they cross the wire. */
  def labelPropagationOf(edges: DataFrame): DataFrame =
    presentLabels(lpaLabels(edges))

  /** The LPA presentation layer over a computed labeling: community
    * sizes joined back, gate ordering. */
  private def presentLabels(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("Lbl")).agg(count(lit(1)).as("CommunitySize"))
    labels.join(sizes, "Lbl")
      .select(col("Node").as("PartKey"), col("Lbl").as("Community"),
        col("CommunitySize"))
      .orderBy(col("PartKey"))
  }

  /** The corpus LPA labeling, memoized + cached per (session, dir)
    * like the [[coPurchaseEdges]] substrate itself: the labeling is a
    * SHARED substrate — [[labelPropagation]] presents it and
    * [[modularity]] scores it, and without the memo the modularity
    * card re-ran the whole 4-round vote loop the LPA query had just
    * computed (measured 3.35 s of the card's 3.9 s board price).
    * Node-sized cache (one (Node, Lbl) row per node). The `*Of`
    * substrate forms stay memo-free — probes measure the real loop. */
  private[graft] def lpaLabelsFor(spark: SparkSession, dir: String): DataFrame =
    Substrates.frame(spark, dir, "graph.lpaLabels") {
      lpaLabels(coPurchaseEdges(spark, dir)).cache()
    }

  /** k-core threshold as a density ratio: K = (7 · ⌊Σdeg/n⌋) div 10 —
    * 0.7× the average degree, all integer divisions, so K self-scales
    * with corpus density instead of going vacuous when degrees grow
    * with SF (a fixed K=3 admits the entire graph at every test
    * scale). */
  val KcoreDensityNum = 7L
  val KcoreDensityDen = 10L
  /** Mirror unroll depth; the engine ASSERTS its convergence loop
    * fixpoints within this many peels (fail loudly if a regenerated
    * corpus ever needs more — re-raise alongside the mirror). Peeling
    * is monotone (the alive set only shrinks), so extra unrolled
    * rounds past the fixpoint are exact no-ops. */
  val KcoreUnrollRounds = 12

  /** k-CORE DECOMPOSITION (Seidman 1983) at the density-derived
    * threshold: iteratively peel nodes whose degree WITHIN the
    * surviving subgraph falls below K until fixpoint — the standard
    * cohesion filter (the "dense cluster" complement of
    * [[labelPropagation]]'s partition). Output per node: its full
    * degree, core membership, and its within-core degree.
    *
    * Exactness: degrees are integer counts and K is an exact integer
    * ratio of them; the peel is a monotone set iteration — no floats,
    * no ties to break, bit-identical in any engine. The engine runs
    * the loop to CONVERGENCE (the componentsOf changed-count
    * discipline — peeling cannot oscillate) and asserts fixpoint
    * within [[KcoreUnrollRounds]]; the mirror unrolls exactly that
    * many rounds (idempotent past the fixpoint).
    *
    * Scale shape: one round = two semi-joins of the cached edge
    * substrate against the node-sized alive set + one Src-keyed count
    * — Pregel-shaped like every graph loop here, edge list never
    * re-shuffled, alive set localCheckpoint-pinned per round so the
    * union of 12 rounds never replays lineage (live state is one
    * node-sized set regardless of round count). The two driver-side
    * scalars (K, per-round changed count) are metadata-cheap 1-row
    * actions, the assignAuto precedent. */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreWithRounds(coPurchaseEdges(spark, dir),
      degOpt = Some(degreesFor(spark, dir)))._1

  /** [[kcore]] over any degree-carrying edge substrate, also
    * returning the measured peel-round count. `maxRounds` defaults to
    * [[KcoreUnrollRounds]] — the GATE contract, tied to the mirror's
    * unroll depth; the scale probe passes its own bound because peel
    * depth is a CORPUS property (the synthesized power-law corpus
    * peels ~3× deeper than the co-purchase graph — measured by
    * GraphScaleProbe, which is exactly the kind of fact this loop's
    * assert exists to surface). */
  def kcoreWithRounds(edges: DataFrame,
                      maxRounds: Int = KcoreUnrollRounds,
                      degOpt: Option[DataFrame] = None): (DataFrame, Int) = {
    val deg = degOpt.getOrElse(degreesOf(edges))
    val nm = deg.agg(sum(col("OutDeg")).as("S"), count(lit(1)).as("N")).first()
    val k = KcoreDensityNum * (nm.getLong(0) / nm.getLong(1)) / KcoreDensityDen
    // one synchronous peel as a lazy transformation — UNHINTED joins
    // (joinEdgesOnSrc rationale): AQE broadcasts the node-sized alive
    // set at gate scale, keeping both membership joins map-side over
    // the cached Src-partitioned edges with zero exchanges
    def peel(alive: DataFrame): DataFrame =
      edges.join(alive, edges("Src") === alive("N")).drop("N")
        .join(alive.select(col("N").as("ND")), col("Dst") === col("ND"))
        .groupBy(col("Src")).agg(count(lit(1)).as("C"))
        .filter(col("C") >= k)
        .select(col("Src").as("N"))
    var alive = deg.select(col("Src").as("N")).localCheckpoint()
    var aliveCount = alive.count()
    var rounds = 0
    var converged = false
    // ONE peel per action, LAZY localCheckpoint: the convergence count
    // is the peel's single materializing job (the componentsOf
    // discipline — r17; eager checkpoint + separate count was two jobs
    // per peel of dispatch-bound work). Two-peels-per-action was
    // prototyped and REVERTED: peel(peel(x)) references the inner
    // peel's un-pinned result in both membership joins, so each block
    // re-computed the inner peel as two separate builds — measured
    // 2.5× slower than the singleton loop at sf0.1.
    while (!converged) {
      rounds += 1
      assert(rounds <= maxRounds,
        s"k-core failed to fixpoint within $maxRounds peels — " +
          "raise KcoreUnrollRounds together with the mirror's unroll")
      val next = peel(alive).localCheckpoint(eager = false)
      val nextCount = next.count()
      if (nextCount == aliveCount) converged = true
      else { alive = next; aliveCount = nextCount }
    }
    val coreDeg = edges
      .join(alive, edges("Src") === alive("N")).drop("N")
      .join(alive.select(col("N").as("ND")), col("Dst") === col("ND"))
      .groupBy(col("Src")).agg(count(lit(1)).as("CoreDegree"))
    val out = deg
      .join(alive, deg("Src") === alive("N"), "left")
      .join(coreDeg.select(col("Src").as("SC"), col("CoreDegree")),
        col("Src") === col("SC"), "left")
      .select(col("Src").as("PartKey"),
        col("OutDeg").cast(LongType).as("Degree"),
        col("N").isNotNull.as("InCore"),
        coalesce(col("CoreDegree"), lit(0L)).as("CoreDegree"))
      .orderBy(col("PartKey"))
    (out, rounds)
  }

  /** Mirror unroll depth for [[bfsHops]]; the engine ASSERTS its
    * frontier loop fixpoints within this many rounds (the
    * KcoreUnrollRounds discipline — min-propagation is monotone, so
    * extra unrolled mirror rounds past the fixpoint are exact
    * no-ops). Co-purchase graphs are dense small-world structures
    * (measured diameter ≤ 4 at sf0.1); 10 leaves headroom. */
  val BfsUnrollRounds = 10

  /** BREADTH-FIRST HOP DISTANCE from the graph's dominant hub — the
    * traversal member of the graph family (reach/radius analysis:
    * "how many hops from the anchor product is everything else?").
    * The source is deterministic: the node with (max degree, min id)
    * — the same hub PageRank surfaces, derivable identically by the
    * mirror. Output per node: degree, hop distance (NULL for nodes in
    * other components — disconnection is reported, not hidden), and
    * the source flag.
    *
    * Exactness: hop distances are a monotone min-lattice over
    * non-negative integers (the componentsOf discipline — no floats,
    * no ties, no truncate-vs-floor division hazards), so the loop
    * cannot oscillate and any engine agrees bit-for-bit. The engine
    * runs to CONVERGENCE and asserts fixpoint within
    * [[BfsUnrollRounds]]; the mirror unrolls exactly that many
    * rounds.
    *
    * Scale shape: FRONTIER-DELTA rounds — round r joins the cached
    * edge substrate with only the nodes SETTLED IN ROUND r−1 (the
    * frontier), not the whole distance table: per-round probe volume
    * is deg(frontier_r), and Σ_r deg(frontier_r) = m exactly (every
    * node enters the frontier once), where the full-state join costs
    * Σ_r deg(settled_≤r) — diameter-FOLD more on high-diameter
    * graphs (measured on the diameter-102 chain corpus: 20.9M vs
    * 1.06×10⁹ joined rows, a 50× volume cut). Newly reached nodes
    * are the min-aggregated candidates anti-joined against the TWO
    * most recent deltas only — on the family's symmetric edge
    * substrate a frontier neighbor's distance is within ±1 of the
    * frontier's, so membership in delta_{r−1} ∪ delta_{r−2} is the
    * whole settled test (the standard two-frontier BFS argument);
    * the build side is O(|frontier|), CONSTANT in rounds, never the
    * growing distance table (round 13 — the growing-union build side
    * was the r12 watch item, and on the chain corpus it cost more
    * than the volume cut saved). Directionality caveat: that ±1
    * argument needs symmetrized edges, which every substrate in this
    * family carries (the coPurchaseEdges both-directions contract);
    * a one-directional edge table must use the full-state oracle —
    * ENFORCED at runtime by a sampled reverse-edge check
    * ([[requireSymmetrizedSample]], round 14), so a wrong-caller
    * table fails loudly instead of returning plausible distances.
    * Unit-weight BFS settles a node exactly at first discovery, so
    * the frontier recursion computes the same monotone min-lattice
    * fixpoint as the full-state join — bit-identical distances (the
    * full-state form stays available as the identity oracle,
    * `frontierDelta = false`), spec-proven on co-purchase, power-law
    * AND diameter-17 chain shapes. State localCheckpoint-pinned per
    * round, the Pregel shape shared with every loop in this file. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame =
    bfsHopsWithRounds(coPurchaseEdges(spark, dir),
      degOpt = Some(degreesFor(spark, dir)))._1

  /** Round count past which the FINAL distance table (the union of
    * per-round localCheckpointed deltas) is compacted ONCE, at loop
    * exit, before the presentation join — a one-shot threshold, not a
    * periodicity (renamed from `BfsCompactEvery`, which read as
    * "every N rounds"): the loop itself never reads the union (the
    * settled test is the two-delta anti-join), but a diameter-100
    * traversal would hand the final left join a 100-way union of
    * 100×shuffle-partitions inputs. Small-world traversals (≤ this
    * many rounds) skip it. */
  val BfsCompactMinRounds = 8

  /** Hash-sample modulus / minimum sample for the two-frontier
    * symmetry precondition check ([[requireSymmetrizedSample]]). */
  val SymmetrySampleMod = 64L
  val SymmetrySampleFloor = 64

  /** RUNTIME GUARD for the two-frontier settled test's one
    * precondition (round 14; the scaladoc caveat above was the only
    * protection before): on a NON-symmetrized edge table a directed
    * edge can rediscover a node settled ≥3 rounds earlier, re-adding
    * it with a larger Hops — duplicate Node rows that fan out in the
    * presentation join, i.e. plausible wrong output. Happy path is
    * ONE narrow aggregate over the (cached) substrate: on a
    * symmetrized table the (Src, Dst) and (Dst, Src) pair multisets
    * are identical, so `bit_xor(xxhash64(Src, Dst))` must equal
    * `bit_xor(xxhash64(Dst, Src))` — every paired edge contributes
    * the same two terms to both sides. The xor alone is blind to
    * EVEN-MULTIPLICITY one-direction duplicates (h⊕h = 0 on both
    * sides — the r14 advice escape), so the same aggregate also
    * compares the multiplicity-sensitive SUM of the two hash columns
    * (as decimal(38,0): exact to ~5·10¹⁸ edges, and wrap-free under
    * ANSI where a LongType sum of full-range hashes would throw) —
    * a duplicated (a,b) without its (b,a) contributes 2·h(a,b) to F
    * and 2·h(b,a) to B. Asymmetric multisets escape BOTH
    * fingerprints only via a hash-cancellation fluke in the xxhash64
    * space (the same 2⁻⁶⁴-class budget the shingle-key certificate
    * rests on). Duplicates mirrored in BOTH directions pass, and are
    * harmless by construction: each round's delta is collapsed
    * per-node (`groupBy(Node).min(Hops)`), so edge multiplicity
    * never reaches the settled test. Only on MISMATCH does the expensive
    * diagnostic run — a ~1/[[SymmetrySampleMod]] xxhash64 edge
    * sample (plus the [[SymmetrySampleFloor]] smallest pairs so a
    * tiny graph cannot sample down to vacuity) broadcast against
    * one scan to count missing reverses for the error message.
    * Cost on the happy path: one scan, no join, no sort — the
    * round-14 sampled-join form cost ~1 s of fixed overhead per
    * gate-scale traversal (graph_bfs_hops 1.85 → 2.8 s), all of it
    * sort/checkpoint/action dispatch, not the check itself. */
  /** Logical plans whose symmetry certificate already verified this
    * session (r17): every [[bfsHops]] invocation re-ran the full-scan
    * fingerprint aggregate even when `edges` was the SAME memoized
    * substrate instance as last call. Keyed WEAKLY on the analyzed
    * logical plan object — the memoized substrates hand every caller
    * one stable plan instance, so a hit is exact; a fresh probe frame
    * (new plan object) always re-checks, and [[Substrates.invalidate]]
    * dropping the entry drops the only strong reference so the entry
    * here ages out with it. */
  private val symCheckPassed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      java.lang.Boolean]())

  private def requireSymmetrizedSample(edges: DataFrame): Unit = {
    val planKey = edges.queryExecution.analyzed
    if (symCheckPassed.containsKey(planKey)) return
    requireSymmetrizedSampleUncached(edges)
    symCheckPassed.put(planKey, java.lang.Boolean.TRUE): Unit
  }

  private def requireSymmetrizedSampleUncached(edges: DataFrame): Unit = {
    val pairs = edges.select(col("Src"), col("Dst"))
    val fwdBwd = pairs
      .agg(expr("bit_xor(xxhash64(Src, Dst))").as("F"),
           expr("bit_xor(xxhash64(Dst, Src))").as("B"),
           expr("sum(cast(xxhash64(Src, Dst) AS decimal(38, 0)))").as("FS"),
           expr("sum(cast(xxhash64(Dst, Src) AS decimal(38, 0)))").as("BS"))
      .first()
    if (fwdBwd.isNullAt(0) ||
        (fwdBwd.getLong(0) == fwdBwd.getLong(1)
          && fwdBwd.getDecimal(2) == fwdBwd.getDecimal(3))) return
    // mismatch: pay for a precise message — sample edges, count
    // how many lack their reverse
    val sample = pairs
      .filter(pmod(xxhash64(col("Src"), col("Dst")), lit(SymmetrySampleMod)) === 0L)
      .unionByName(pairs.orderBy(col("Src"), col("Dst")).limit(SymmetrySampleFloor))
      .distinct()
      .select(col("Src").as("SSrc"), col("Dst").as("SDst"))
      .localCheckpoint()
    val sampled = sample.count()
    val matched = pairs
      .join(broadcast(sample), col("Src") === col("SDst") && col("Dst") === col("SSrc"))
      .select(col("SSrc"), col("SDst")).distinct().count()
    // when every SAMPLED edge has a reverse, the asymmetry (unpaired
    // edges, or a one-direction duplicate caught by the sum
    // fingerprint) fell outside the ~1/SymmetrySampleMod sample — the
    // counted message would self-contradict ("0 of N have no reverse")
    val detail =
      if (matched == sampled)
        s"the multiset fingerprints mismatch but all $sampled sampled " +
          "edges have a reverse — the asymmetric (or one-direction " +
          "duplicated) edges fall outside the diagnostic sample"
      else s"${sampled - matched} of $sampled sampled edges have no reverse"
    require(false,
      s"bfsHopsOf(frontierDelta = true) requires a SYMMETRIZED edge table " +
        s"of distinct edges (every (a, b) with its (b, a) — the " +
        s"coPurchaseEdges contract): $detail. " +
        "The two-frontier settled test is only sound on symmetric edges; " +
        "pass frontierDelta = false (the full-state form) for directed graphs.")
  }

  /** [[bfsHops]] over any degree-carrying edge substrate (see
    * [[pagerankOf]]). `maxRounds` is the fixpoint backstop: the GATE
    * query keeps [[BfsUnrollRounds]] (tied to the mirror's unroll);
    * high-diameter corpora (the chain probe) raise it explicitly. */
  def bfsHopsOf(edges: DataFrame, frontierDelta: Boolean = true,
                maxRounds: Int = BfsUnrollRounds): DataFrame =
    bfsHopsWithRounds(edges, frontierDelta, maxRounds)._1

  /** [[bfsHopsOf]] plus the per-round newly-settled counts (the
    * frontier sizes — what the scale probe reports to show the
    * per-round join-volume drop vs the full-state form). */
  private[graft] def bfsHopsWithRounds(
      edges: DataFrame,
      frontierDelta: Boolean = true,
      maxRounds: Int = BfsUnrollRounds,
      degOpt: Option[DataFrame] = None): (DataFrame, Seq[Long]) = {
    val deg = degOpt.getOrElse(degreesOf(edges))
    val src = deg
      .agg(max(struct(col("OutDeg"), (-col("Src")).as("NegId"))).as("B"))
      .select((-col("B.NegId")).as("SourceId"))
      .first().getLong(0)
    val seed = deg.filter(col("Src") === src)
      .select(col("Src").as("Node"), lit(0L).as("Hops"))
      .localCheckpoint(eager = false)
    val sizes = scala.collection.mutable.ArrayBuffer(seed.count())
    var dist = seed
    var rounds = 0
    if (frontierDelta) {
      requireSymmetrizedSample(edges)
      var frontier = seed
      var prev = seed.limit(0) // delta_{r-2}: empty before round 2
      var frontierCount = sizes.head
      while (frontierCount > 0) {
        rounds += 1
        assert(rounds <= maxRounds,
          s"BFS failed to fixpoint within $maxRounds rounds — " +
            "raise maxRounds (gate queries: BfsUnrollRounds together " +
            "with the mirror's unroll)")
        // settled test = membership in the two most recent deltas
        // (see the scaladoc's two-frontier argument) — O(|frontier|)
        // build side, never the growing distance table. Frontier side
        // hash-builds (joinEdgesOnSrc rationale); checkpoint is LAZY
        // so the round's count is its single materializing job.
        val next = joinEdgesOnSrc(edges, frontier, edges("Src") === frontier("Node"))
          .select(col("Dst").as("Node"), (col("Hops") + 1L).as("Hops"))
          .groupBy(col("Node")).agg(min(col("Hops")).as("Hops"))
          .join(frontier.select(col("Node").as("Seen"))
              .union(prev.select(col("Node").as("Seen"))),
            col("Node") === col("Seen"), "left_anti")
          .localCheckpoint(eager = false)
        frontierCount = next.count()
        sizes += frontierCount
        if (frontierCount > 0) dist = dist.union(next)
        prev = frontier
        frontier = next
      }
      // the loop never reads the deltas' union; the final
      // presentation join does — compact once if the traversal ran
      // deep enough that a rounds-way union would bloat its scan
      if (rounds > BfsCompactMinRounds) dist = dist.localCheckpoint()
    } else {
      var settled = sizes.head
      var converged = false
      while (!converged) {
        rounds += 1
        assert(rounds <= maxRounds,
          s"BFS failed to fixpoint within $maxRounds rounds — " +
            "raise maxRounds (gate queries: BfsUnrollRounds together " +
            "with the mirror's unroll)")
        val next = joinEdgesOnSrc(edges, dist, edges("Src") === dist("Node"))
          .select(col("Dst").as("Node"), (col("Hops") + 1L).as("Hops"))
          .union(dist)
          .groupBy(col("Node")).agg(min(col("Hops")).as("Hops"))
          .localCheckpoint(eager = false)
        val nextCount = next.count()
        if (nextCount == settled) converged = true
        sizes += (nextCount - settled)
        dist = next
        settled = nextCount
      }
    }
    val out = deg.join(dist, deg("Src") === dist("Node"), "left")
      .select(col("Src").as("PartKey"),
        col("OutDeg").cast(LongType).as("Degree"),
        col("Hops"),
        (col("Src") === src).as("IsSource"))
      .orderBy(col("PartKey"))
    (out, sizes.toSeq)
  }

  /** Mirror unroll depth for [[connectedComponents]]: synchronous
    * min-label propagation fixpoints within the graph DIAMETER
    * (co-purchase graphs measure ≤ 4-5; the power-law probe corpus
    * ≤ 10 — its BFS bound), and rounds past the fixpoint are exact
    * no-ops, so 16 is generous headroom. The ENGINE side runs
    * DedupOps.componentsOf's convergence loop (its own 64-round
    * backstop); a corpus needing more than this unroll would
    * hash-mismatch LOUDLY rather than silently under-merge — raise
    * both together. */
  val ComponentsUnrollRounds = 16

  /** CONNECTED COMPONENTS over the co-purchase graph — the canonical
    * graph decomposition, reusing the SAME convergence-checked
    * min-label kernel the dedup family gates
    * (DedupOps.componentsOf — one kernel, two domains, the
    * coolBands precedent). Component label = the component's minimum
    * node id (what identity-seeded min propagation converges to on
    * both engines); ComponentSize rides one label-keyed count.
    *
    * Scale shape: the kernel's Pregel loop (edge list cached and
    * hash-partitioned once, label side reshuffles per round,
    * edge-touched-only iteration); this wrapper adds one node-sized
    * size join and the presentation sort. */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponentsOf(coPurchaseEdges(spark, dir),
      Some(degreesFor(spark, dir)))

  /** [[connectedComponents]] over any degree-carrying edge substrate
    * (see [[pagerankOf]]). */
  def connectedComponentsOf(edges: DataFrame,
                            degOpt: Option[DataFrame] = None): DataFrame = {
    val deg = degOpt.getOrElse(degreesOf(edges))
    val pairs = edges.filter(col("Src") < col("Dst"))
      .select(col("Src"), col("Dst"))
    val labels = DedupOps.componentsOf(pairs, deg.select(col("Src")))
    val sizes = labels.groupBy(col("ClusterId"))
      .agg(count(lit(1)).as("ComponentSize"))
    labels.join(sizes, "ClusterId")
      .join(deg, labels("doc_id") === deg("Src"))
      .select(col("doc_id").as("PartKey"),
        col("OutDeg").cast(LongType).as("Degree"),
        col("ClusterId").as("Component"),
        col("ComponentSize"))
      .orderBy(col("PartKey"))
  }

  /** DEGREE STATISTICS + ASSORTATIVITY health card — one row per
    * graph: node/edge counts, degree min/mean/max, and the degree
    * assortativity coefficient (Newman 2002): the Pearson correlation
    * of (deg(u), deg(v)) over directed edges — negative on hub-spoke
    * graphs (celebrities attach to low-degree nodes), positive on
    * peer-clustered ones; THE one-number summary an operator reads
    * before trusting any per-node graph metric.
    *
    * Exactness: the statsCorrelation wide-combination rule — Pearson
    * over integers needs only the five sums Σx, Σy, Σxy, Σx², Σy²,
    * accumulated in LONGs under the budget documented on
    * [[degreeStatsOf]] (per-edge products ≤ 2⁶² summed over bounded
    * edge counts; an over-budget graph fails LOUDLY under ANSI rather
    * than degrading) and widened to DECIMAL(38,0) only at the Pearson
    * combination; the coefficient is IEEE arithmetic on two
    * exactly-agreed doubles.
    * The undirected edge list carries both directions, so the
    * directed-edge correlation IS the undirected assortativity. */
  def degreeStats(spark: SparkSession, dir: String): DataFrame =
    degreeStatsOf(coPurchaseEdges(spark, dir), Some(degreesFor(spark, dir)))

  /** [[degreeStats]] over any degree-carrying edge substrate. The
    * sums ride LONGS (degree ≤ 2³¹ ⇒ per-edge products ≤ 2⁶² summed
    * over bounded edge counts — the statsCorrelation budget) and
    * widen to decimal(38,0) ONLY at the Pearson combination step,
    * exactly the statsCorrelation discipline; the coefficient is IEEE
    * arithmetic on two exactly-agreed doubles. */
  def degreeStatsOf(edges: DataFrame,
                    degOpt: Option[DataFrame] = None): DataFrame = {
    val deg = degOpt.getOrElse(degreesOf(edges))
    val nodes = deg.agg(
      count(lit(1)).as("NNodes"),
      min(col("OutDeg")).cast(LongType).as("MinDegree"),
      max(col("OutDeg")).cast(LongType).as("MaxDegree"),
      sum(col("OutDeg")).as("SumDeg"))
    val pairs = edges
      .join(deg.select(col("Src").as("DN"), col("OutDeg").as("DegD")),
        col("Dst") === col("DN"))
      .select(col("OutDeg").cast(LongType).as("X"),
        col("DegD").cast(LongType).as("Y"))
    val sums = pairs.agg(
      count(lit(1)).as("NEdges"),
      sum(col("X")).as("Sx"), sum(col("Y")).as("Sy"),
      sum(col("X") * col("Y")).as("Sxy"),
      sum(col("X") * col("X")).as("Sxx"),
      sum(col("Y") * col("Y")).as("Syy"))
    nodes.crossJoin(sums)
      .withColumn("NumD", expr(
        "cast(NEdges as decimal(38,0)) * Sxy - cast(Sx as decimal(38,0)) * Sy"))
      .withColumn("DxD", expr(
        "cast(NEdges as decimal(38,0)) * Sxx - cast(Sx as decimal(38,0)) * Sx"))
      .withColumn("DyD", expr(
        "cast(NEdges as decimal(38,0)) * Syy - cast(Sy as decimal(38,0)) * Sy"))
      .select(col("NNodes"), col("NEdges"), col("MinDegree"),
        (col("SumDeg").cast(DoubleType) / col("NNodes")).as("MeanDegree"),
        col("MaxDegree"),
        when(col("DxD") === 0 || col("DyD") === 0, lit(null).cast(DoubleType))
          .otherwise(col("NumD").cast(DoubleType) /
            (sqrt(col("DxD").cast(DoubleType)) * sqrt(col("DyD").cast(DoubleType))))
          .as("Assortativity"))
  }
}
