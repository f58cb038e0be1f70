package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale axis for the graph family. The co-purchase graph caps at
  * sf0.1 (2.39M directed edges / 20k nodes), so the kernels' decade
  * claims — triangles' O(m^1.5) wedge bound, k-core's peel count vs
  * density, LPA/PageRank's edges×rounds — had no ≥10× corpus to run
  * against. This probe SYNTHESIZES one: a deterministic power-law
  * edge corpus (xxhash64-seeded, no RNG state — same args, same
  * graph) with genuine celebrity nodes (the node sampler's u³ skew
  * puts ~4% of raw endpoints on node 0, the exact hot-key shape the
  * degree orientation exists to survive), shaped into the SAME
  * degree-carrying substrate contract as GraphOps.coPurchaseEdges
  * (distinct, both directions, OutDeg window, cached) and driven
  * through the SAME kernels via the `*Of` forms.
  *
  * usage: runMain graft.tools.GraphScaleProbe <corpus>[,...] [kernels]
  *   corpus = nNodes:nRawEdges            (power-law)
  *          | chain:nCommunities:size:deg (high-diameter chain)
  *   e.g. 20000:1200000,200000:12000000  (x1-comparable, x10)
  *        chain:100:5000:20              (diameter ~100 BFS stress)
  */
object GraphScaleProbe {

  /** Deterministic power-law-ish edge substrate: endpoint ids drawn
    * as floor(n·u³) (density ∝ x^{−2/3} — heavy low-id hubs), u from
    * xxhash64 of the edge index. Self-loops dropped, symmetrized,
    * distinct, degree-carrying, cached — bit-for-bit the
    * coPurchaseEdges substrate shape. */
  def powerlawEdges(spark: SparkSession, nNodes: Long, nRawEdges: Long): DataFrame = {
    def u01(salt: Int) =
      (pmod(xxhash64(col("id"), lit(salt)), lit(1000000000L)).cast(DoubleType)
        + lit(0.5)) / lit(1e9)
    def node(salt: Int) =
      least(lit(nNodes - 1),
        floor(lit(nNodes.toDouble) * pow(u01(salt), lit(3.0)))).cast(LongType)
    val raw = spark.range(nRawEdges)
      .select(node(1).as("A"), node(2).as("B"))
      .filter(col("A") =!= col("B"))
    raw.select(col("A").as("Src"), col("B").as("Dst"))
      .union(raw.select(col("B").as("Src"), col("A").as("Dst")))
      .distinct()
      .withColumn("OutDeg", count(lit(1)).over(Window.partitionBy(col("Src"))))
      .cache()
  }

  /** Deterministic CHAIN-OF-COMMUNITIES corpus — the HIGH-DIAMETER
    * counterpoint to [[powerlawEdges]] (whose dominant hub gives the
    * BFS source eccentricity 2, the frontier form's self-declared
    * worst case). `nCommunities` hub-star communities of
    * `communitySize` nodes (node c·S is community c's hub; star edges
    * make intra-community distance ≤ 2), padded to realistic edge
    * volume with `intraDegree` xxhash64-random intra-community edges
    * per node, consecutive hubs bridged — NO edge crosses more than
    * one community boundary, so hop distance between communities is
    * exactly their chain distance and graph diameter grows linearly
    * with `nCommunities` (≈ nCommunities + 2). Same substrate
    * contract as [[powerlawEdges]]: self-loop-free, symmetrized,
    * distinct, OutDeg-carrying, cached. */
  def chainEdges(spark: SparkSession, nCommunities: Int,
                 communitySize: Long, intraDegree: Int): DataFrame = {
    val s = communitySize
    val n = nCommunities * s
    // star: every non-hub node to its community's hub
    val star = spark.range(n).filter(col("id") % s =!= 0L)
      .select(col("id").as("A"), (col("id") - (col("id") % s)).as("B"))
    // random intra-community edges for volume (never cross a boundary)
    def j(salt: Int) = pmod(xxhash64(col("id"), lit(salt)), lit(s))
    val intra = spark.range(n * intraDegree)
      .select(((col("id") % nCommunities) * s).as("Base"),
        j(1).as("J1"), j(2).as("J2"))
      .filter(col("J1") =!= col("J2"))
      .select((col("Base") + col("J1")).as("A"), (col("Base") + col("J2")).as("B"))
    // bridge: hub c — hub c+1
    val bridge = spark.range(nCommunities - 1L)
      .select((col("id") * s).as("A"), ((col("id") + 1L) * s).as("B"))
    val raw = star.union(intra).union(bridge)
    raw.select(col("A").as("Src"), col("B").as("Dst"))
      .union(raw.select(col("B").as("Src"), col("A").as("Dst")))
      .distinct()
      .withColumn("OutDeg", count(lit(1)).over(Window.partitionBy(col("Src"))))
      .cache()
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 1) {
      System.err.println(
        "usage: runMain graft.tools.GraphScaleProbe " +
          "<nNodes:nRawEdges | chain:nCommunities:size:deg>[,...] " +
          "[kernels: triangles,kcore,lpa,pagerank,bfs,degree_stats]")
      sys.exit(2)
    }
    // (label, edges builder, BFS round backstop): the chain corpus's
    // whole point is diameter ≈ nCommunities, so its backstop scales
    // with the spec instead of the gate's mirror-tied BfsUnrollRounds
    val specs: Seq[(String, SparkSession => DataFrame, Int)] =
      args(0).split(",").toSeq.map { sp =>
        val p = sp.split(":").map(_.trim)
        if (p(0) == "chain") {
          val (c, s, d) = (p(1).toInt, p(2).toLong, p(3).toInt)
          (sp, (sk: SparkSession) => chainEdges(sk, c, s, d), c + 16)
        } else {
          val (n, m) = (p(0).toLong, p(1).toLong)
          (sp, (sk: SparkSession) => powerlawEdges(sk, n, m),
            graft.ops.GraphOps.BfsUnrollRounds)
        }
      }
    val kernels: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSet
      else Set("triangles", "kcore", "lpa", "pagerank", "bfs", "degree_stats")
    def on(k: String): Boolean = kernels.contains(k)
    val spark = graft.GraftSession.local()
    import graft.ops.GraphOps
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    specs.foreach { case (n, buildEdges, bfsMaxRounds) =>
      val edges = buildEdges(spark)
      val dm = edges.count() // materialize the cache outside timings
      val maxDeg = edges.agg(max(col("OutDeg"))).first().getLong(0)
      println(f"[graphscale] corpus n=$n m_directed=$dm maxDeg=$maxDeg")
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      if (on("triangles")) {
        // run 1 pays the full oriented build (pin, count, Bloom
        // filter) plus the enumeration; run 2 re-runs the enumeration
        // over the pin — the exact cold/warm split the gate's
        // memoized form has. Both are reported; the pin is released
        // through the frame that holds it before the next kernel.
        var tri: (DataFrame, DataFrame) = null
        val triCold = time { tri = GraphOps.trianglesPinned(edges); noop(tri._1) }
        val triWarm = time(noop(tri._1))
        val triTotal = tri._1.agg(sum(col("NTriangles"))).first().getLong(0) / 3
        tri._2.unpersist()
        println(f"[graphscale] n=$n triangles_cold_sec=$triCold%.2f " +
          f"triangles_sec=$triWarm%.2f total=$triTotal")
        parts += f""""triangles_cold_sec":$triCold%.2f,"triangles_sec":$triWarm%.2f,"triangles_total":$triTotal"""
      }
      if (on("kcore")) {
        // peel depth is a corpus property: the probe bounds at 100, and
        // REPORTS the measured depth (the gate keeps its mirror-tied 12)
        var rounds = 0
        val kc = Seq(
          time { val (df, r) = GraphOps.kcoreWithRounds(edges, 100); rounds = r; noop(df) },
          time { val (df, r) = GraphOps.kcoreWithRounds(edges, 100); rounds = r; noop(df) }).min
        println(f"[graphscale] n=$n kcore_sec=$kc%.2f rounds=$rounds")
        parts += f""""kcore_sec":$kc%.2f,"kcore_rounds":$rounds"""
      }
      if (on("lpa")) {
        val lpa = Seq(time(noop(GraphOps.labelPropagationOf(edges))),
          time(noop(GraphOps.labelPropagationOf(edges)))).min
        println(f"[graphscale] n=$n lpa_sec=$lpa%.2f")
        parts += f""""lpa_sec":$lpa%.2f"""
      }
      if (on("pagerank")) {
        val pr = Seq(time(noop(GraphOps.pagerankOf(edges))),
          time(noop(GraphOps.pagerankOf(edges)))).min
        parts += f""""pagerank_sec":$pr%.2f"""
      }
      if (on("bfs")) {
        // frontier-delta vs full-state BFS: same distances
        // (RetrievalGraphSpec asserts bit-identity on both corpus
        // shapes), this prints the per-round volume story — frontier
        // sizes vs the cumulative settled counts the full-state form
        // re-joins every round
        var fsizes: Seq[Long] = Nil
        val bfs = Seq(
          time { val (df, s) = GraphOps.bfsHopsWithRounds(edges, maxRounds = bfsMaxRounds); fsizes = s; noop(df) },
          time { val (df, s) = GraphOps.bfsHopsWithRounds(edges, maxRounds = bfsMaxRounds); fsizes = s; noop(df) }).min
        val bfsFull = Seq(
          time(noop(GraphOps.bfsHopsOf(edges, frontierDelta = false, maxRounds = bfsMaxRounds))),
          time(noop(GraphOps.bfsHopsOf(edges, frontierDelta = false, maxRounds = bfsMaxRounds)))).min
        val cum = fsizes.scanLeft(0L)(_ + _).tail
        println(s"[graphscale] n=$n bfs frontier_sizes=${fsizes.mkString(",")} " +
          s"full_state_joins=${cum.init.mkString(",")}")
        parts += f""""bfs_sec":$bfs%.2f,"bfs_full_sec":$bfsFull%.2f"""
      }
      if (on("degree_stats")) {
        val ds = Seq(time(noop(GraphOps.degreeStatsOf(edges))),
          time(noop(GraphOps.degreeStatsOf(edges)))).min
        parts += f""""degree_stats_sec":$ds%.2f"""
      }
      println(s"""{"corpus":"$n","m_directed":$dm,"max_deg":$maxDeg,""" +
        parts.mkString(",") + "}")
      edges.unpersist()
    }
    spark.stop()
  }
}
