package graft.graphquery

import org.apache.spark.sql.DataFrame
import graft.Checkpoints.CutOps
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond pattern matching ([[Bgp]]) and the
  * dedup connected-components fixpoint (`graft.llm.Dedup`): iterative
  * rank propagation in the Pregel shape — per-iteration keyed shuffles,
  * never an adjacency matrix.
  */
object Graph {

  /** PageRank, integer-exact: ranks held as parts-per-billion BIGINTs so
    * every engine computes bit-identical results regardless of partition
    * count or reduce order (float PageRank sums in nondeterministic order
    * and drifts in the last bits — un-oracle-able). Per iteration each
    * node sends `rank div outDegree` (integer floor division) along each
    * out-edge and every node's next rank is
    * `(100-dampPct)·10⁷ + (dampPct · Σ incoming) div 100` — all BIGINT,
    * all order-independent. Dangling mass (nodes with no out-edges) is
    * dropped, not redistributed, matching the classic formulation — the
    * oracle mirrors exactly this.
    *
    * Scale shape: the input expression is evaluated ONCE (deduped edges
    * are localCheckpoint'd before anything derives from them — nodes,
    * degrees, and the iteration all read the materialized edge list, not
    * the upstream join lineage). The degree-carrying edge list is
    * hash-partitioned on `src` at materialization, so each iteration's
    * edges⋈ranks join exchanges only the rank table (|V| rows) — the
    * edge list, the big side at web scale, never crosses the wire again.
    * Completeness without a per-iteration node join: zero-contribution
    * rows for every node are unioned under the SAME dst-keyed
    * aggregation, so sinks with no in-edges keep the base rank at the
    * cost of |V| extra aggregate inputs, not an extra join. Lineage is
    * cut per iteration with `localCheckpoint`. Overflow bound:
    * `dampPct · Σ incoming` stays under 2⁶³ while
    * |V| · 10⁹ · 100 < 9.2·10¹⁸, i.e. up to ~9·10⁷ nodes per connected
    * in-neighborhood at full precision — beyond that, drop the ppb unit
    * to ppm (the precision the reports keep anyway).
    *
    * Returns (node, rank_ppb): rank 1.0 (the uniform start) = 10⁹; ranks
    * sum to ≤ |V|·10⁹ with the dangling leak.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, dampPct: Int = 85,
               weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100)
    // Weighted form: each node splits its rank across out-edges in
    // proportion to integer weights — contribution = (rank·w) div Σw,
    // still pure BIGINT (exact while rank·w < 2⁶³; at ppb ranks that is
    // w·|V| < 9.2·10⁹ per in-neighborhood — drop to ppm beyond).
    // Parallel edges aggregate their weights; the unweighted path is
    // the weighted one with w = 1 (identical arithmetic: (r·1) div deg).
    val e = (weightCol match {
      case Some(wc) => edges.select(col(srcCol).as("_src"),
          col(dstCol).as("_dst"), col(wc).cast("long").as("_w"))
        .groupBy(col("_src"), col("_dst")).agg(sum(col("_w")).as("_w"))
      case None => edges.select(col(srcCol).as("_src"),
          col(dstCol).as("_dst")).distinct().withColumn("_w", lit(1L))
    }).cutLineage()
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct()
      .cutLineage()
    val outDeg = e.groupBy(col("_src")).agg(sum(col("_w")).as("_deg"))
    // Degree is joined once, up front, and the result pinned to a
    // src-hash partitioning — the per-iteration join then only shuffles
    // the rank side.
    val edgesDeg = e.join(outDeg, "_src")
      .repartition(col("_src")).cutLineage()
    val zero = nodes.select(col("node"), lit(0L).as("_c"))
    val base = lit((100L - dampPct) * 10000000L)
    var ranks = nodes.withColumn("rank_ppb", lit(1000000000L))
    for (_ <- 1 to iters) {
      ranks = edgesDeg
        .join(ranks.withColumnRenamed("node", "_src"), "_src")
        // `div`, not `/`: BIGINT floor division on both engines — `/`
        // would round-trip through DOUBLE.
        .select(col("_dst").as("node"),
          expr("(rank_ppb * _w) div _deg").as("_c"))
        .unionByName(zero)
        .groupBy(col("node")).agg(
          (base + expr(s"($dampPct * sum(_c)) div 100"))
            .cast("long").as("rank_ppb"))
        .cutLineage()
    }
    ranks
  }

  /** Personalized PageRank: teleportation lands only on the SEED set
    * (the recommendation/proximity variant — rank mass flows outward
    * from the seeds instead of raining uniformly). Same ppb BIGINT
    * discipline and per-iteration shape as [[pageRank]] with two
    * changes: the initial rank is 10⁹ on seeds and 0 elsewhere, and the
    * per-node base term (100−dampPct)·10⁷ applies to seeds only —
    * carried as a precomputed per-node base vector joined after each
    * damped aggregation (one extra |V|-row keyed join per iteration).
    * Absolute-mass convention: ranks are comparable to [[pageRank]]'s,
    * not normalized per seed. Returns (node, rank_ppb); non-seed nodes
    * unreachable from any seed hold rank 0.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iters: Int = 5,
                           dampPct: Int = 85,
                           weightCol: Option[String] = None): DataFrame = {
    // dampPct = 100 is excluded HERE (unlike pageRank): the personalized
    // teleport mass (100 − dampPct) is what marks the seed set — at 100
    // it vanishes and every rank is identically zero.
    require(iters >= 1 && dampPct >= 0 && dampPct <= 99)
    val e = (weightCol match {
      case Some(wc) => edges.select(col(srcCol).as("_src"),
          col(dstCol).as("_dst"), col(wc).cast("long").as("_w"))
        .groupBy(col("_src"), col("_dst")).agg(sum(col("_w")).as("_w"))
      case None => edges.select(col(srcCol).as("_src"),
          col(dstCol).as("_dst")).distinct().withColumn("_w", lit(1L))
    }).cutLineage()
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct()
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    val bVec = nodes
      .join(seedSet.withColumn("_isSeed", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("_isSeed"), lit((100L - dampPct) * 10000000L))
          .otherwise(lit(0L)).as("_b"))
      .cutLineage()
    val outDeg = e.groupBy(col("_src")).agg(sum(col("_w")).as("_deg"))
    val edgesDeg = e.join(outDeg, "_src")
      .repartition(col("_src")).cutLineage()
    var ranks = bVec.select(col("node"),
      when(col("_b") > 0L, lit(1000000000L)).otherwise(lit(0L))
        .as("rank_ppb"))
    for (_ <- 1 to iters) {
      ranks = edgesDeg
        .join(ranks.withColumnRenamed("node", "_src"), "_src")
        .select(col("_dst").as("node"),
          expr("(rank_ppb * _w) div _deg").as("_c"))
        .unionByName(bVec.select(col("node"), lit(0L).as("_c")))
        .groupBy(col("node"))
        .agg(expr(s"($dampPct * sum(_c)) div 100").as("_t"))
        .join(bVec, "node")
        .select(col("node"), (col("_t") + col("_b")).cast("long")
          .as("rank_ppb"))
        .cutLineage()
    }
    ranks
  }

  /** Per-node triangle participation over the UNDIRECTED closure of the
    * edge list (direction and multiplicity dropped; self-loops ignored).
    * Output: (node, n_triangles) for every node in at least one
    * triangle; Σ n_triangles = 3 · #triangles.
    *
    * The scale device is DEGREE ORIENTATION (the classic
    * count-triangles-in-O(m^1.5) trick): each undirected edge points
    * from its lower-(degree, id) endpoint to the higher, so every
    * node's OUT-degree is O(√m) regardless of how big a hub its raw
    * degree is — the wedge join (out-edges ⋈ out-edges on their source)
    * fans out to Σ outdeg², bounded by m^1.5, where the unoriented
    * wedge join explodes quadratically on the first power-law hub. One
    * degree aggregation, one wedge self-join, one edge-existence
    * semi-join, one count — all keyed equi-joins.
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("_a"),
        greatest(col(srcCol), col(dstCol)).as("_b"))
      .filter(col("_a") =!= col("_b"))
      .distinct().cutLineage()
    val deg = und.select(col("_a").as("_n"))
      .union(und.select(col("_b").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
    // Orient each edge toward the higher (degree, id) endpoint; carry
    // the endpoint ranks so the wedge join can canonicalize.
    val oriented = und
      .join(deg.withColumnRenamed("_n", "_a").withColumnRenamed("_d", "_da"), "_a")
      .join(deg.withColumnRenamed("_n", "_b").withColumnRenamed("_d", "_db"), "_b")
      .select(
        when(struct(col("_da"), col("_a")) < struct(col("_db"), col("_b")),
          struct(col("_a").as("_u"), col("_b").as("_v"),
            col("_db").as("_dv")))
          .otherwise(struct(col("_b").as("_u"), col("_a").as("_v"),
            col("_da").as("_dv"))).as("_e"))
      .select(col("_e._u").as("_u"), col("_e._v").as("_v"),
        col("_e._dv").as("_dv"))
      .cutLineage()
    // Wedges (v, w) around a common lowest-ranked apex u, canonicalized
    // v < w in rank order; a triangle exists iff (v, w) is itself an
    // oriented edge (it must point v→w: rank is a total order).
    val o2 = oriented.select(col("_u"), col("_v").as("_w"),
      col("_dv").as("_dw"))
    val wedges = oriented.join(o2, "_u")
      .filter(struct(col("_dv"), col("_v")) < struct(col("_dw"), col("_w")))
      .select(col("_u"), col("_v"), col("_w"))
    val tris = wedges.join(
      oriented.select(col("_u").as("_v"), col("_v").as("_w")),
      Seq("_v", "_w"), "left_semi")
    tris.select(explode(array(col("_u"), col("_v"), col("_w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core: the maximal subgraph where every node keeps degree ≥ k
    * after all lower-degree nodes are peeled away (undirected closure;
    * direction, multiplicity, self-loops dropped) — the standard
    * "dense part of the graph" extraction. Iterative peeling: each
    * round computes degrees, drops nodes below k, restricts edges to
    * survivors (two semi-joins), and repeats until no node is removed.
    * Rounds are data-dependent but each removes ≥ 1 node, and in
    * practice O(log) of the peel depth; the loop's only driver-side
    * value is the per-round survivor COUNT (a scalar, not data), and
    * lineage is cut per round with localCheckpoint — on a cluster each
    * round is one degree aggregation + keyed semi-joins over the
    * shrinking edge set, nothing ever all-pairs.
    *
    * Returns (node, core_degree): the surviving nodes with their degree
    * INSIDE the core (≥ k by construction; empty result if no k-core).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int): DataFrame = {
    require(k >= 1)
    val und0 = edges.select(
        least(col(srcCol), col(dstCol)).as("_a"),
        greatest(col(srcCol), col(dstCol)).as("_b"))
      .filter(col("_a") =!= col("_b"))
      .distinct().cutLineage()
    var und = und0
    var survivors = -1L
    var done = false
    while (!done) {
      val deg = und.select(col("_a").as("_n"))
        .union(und.select(col("_b").as("_n")))
        .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
      val keep = deg.filter(col("_d") >= k).cutLineage()
      val n = keep.count()
      if (n == survivors || n == 0) done = true
      else {
        survivors = n
        und = und
          .join(keep.select(col("_n").as("_a")), Seq("_a"), "left_semi")
          .join(keep.select(col("_n").as("_b")), Seq("_b"), "left_semi")
          .cutLineage()
      }
    }
    und.select(col("_a").as("_n"))
      .union(und.select(col("_b").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k)
      .select(col("_n").as("node"), col("core_degree"))
  }

  /** Synchronous label propagation (Raghavan 2007, made deterministic):
    * every node starts labeled with its own id; each iteration
    * simultaneously adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label — so the result depends only on
    * the graph, never on partitioning or visit order (async LPA's
    * nondeterminism is exactly what an oracle can't replay). Direction
    * and multiplicity are dropped; an isolated node keeps its own label.
    *
    * Community quality note: synchronous LPA can oscillate on bipartite
    * structures (labels swap sides each round) — callers wanting
    * converged communities should compare consecutive iterations; the
    * fixed `iters` contract here is what makes the operator exactly
    * replayable.
    *
    * Scale shape per iteration: one edge⋈labels join (edges
    * pre-materialized bidirectional and src-partitioned once — only the
    * |V|-row label table moves), one (node, label) count with map-side
    * combine, one per-node argmax window over the handful of candidate
    * labels per node. Returns (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iters >= 1)
    val und = edges.select(col(srcCol).as("_u"), col(dstCol).as("_v"))
      .filter(col("_u") =!= col("_v"))
    val bi = und.union(und.select(col("_v"), col("_u")))
      .distinct().withColumnRenamed("_u", "_n")
      .repartition(col("_n")).cutLineage()
    val nodes = bi.select(col("_n").as("node")).distinct().cutLineage()
    var labels = nodes.withColumn("label", col("node"))
    val w = Window.partitionBy(col("_n"))
      .orderBy(col("_cnt").desc, col("label").asc)
    for (_ <- 1 to iters) {
      labels = bi
        .join(labels.withColumnRenamed("node", "_v"), "_v")
        .groupBy(col("_n"), col("label")).agg(count(lit(1)).as("_cnt"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("_n").as("node"), col("label"))
        .cutLineage()
    }
    // Isolated nodes never appear in `bi`; with self-loop-only input the
    // node set is empty and so is the result — documented.
    labels
  }

  /** Weighted single-source shortest paths by `rounds` SYNCHRONIZED
    * Bellman-Ford relaxations: after round r, `dist(v)` is exactly the
    * cheapest path of ≤ r edges — deterministic whether or not the
    * fixpoint has been reached, which is what lets an oracle unroll the
    * identical rounds (the [[bfsHops]] recursive-CTE trick would
    * enumerate every distinct path COST under weights and explode).
    * Per round: one keyed join of the |V|-row distance vector against
    * the once-materialized src-partitioned edge list + one min
    * aggregation — the same per-iteration shape as [[pageRank]].
    * Parallel edges collapse to their min weight up front. Nodes not
    * reachable within `rounds` edges are absent.
    */
  def ssspRounds(edges: DataFrame, srcCol: String, dstCol: String,
                 wCol: String, source: String, rounds: Int = 8): DataFrame = {
    require(rounds >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"),
        col(wCol).cast("long").as("_w"))
      .groupBy(col("_s"), col("_d")).agg(min(col("_w")).as("_w"))
      .repartition(col("_s")).cutLineage()
    var dist = Seq((source, 0L)).toDF("node", "dist")
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, dist("node") === e("_s"))
        .select(col("_d").as("node"), (col("dist") + col("_w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .cutLineage()
    }
    dist
  }

  /** Single-source BFS hop distances (directed): frontier expansion in
    * the Pregel shape — per round the current frontier joins the
    * src-partitioned edge list, newly-reached nodes (anti-join against
    * the visited set) become the next frontier at `dist + 1`, until the
    * frontier empties or `maxIters` rounds. Distances are exact BIGINT
    * hop counts; unreachable nodes are absent (a LEFT join from the
    * node table adds them as nulls if a caller wants that shape).
    *
    * Scale shape: edges are deduped, hash-partitioned on src and
    * materialized ONCE (localCheckpoint) — each round exchanges only
    * the frontier (≤ |V| rows); rounds are bounded by the graph's
    * diameter from the source (the `maxIters` cap guards adversarial
    * chains), and the driver sees one scalar per round (the
    * frontier's row count), never data. The visited set is re-checkpointed per round to cap
    * lineage, exactly the [[kCore]]/connected-components discipline.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              source: String, maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .distinct().repartition(col("_s")).cutLineage()
    var visited = Seq((source, 0L)).toDF("node", "dist").cutLineage()
    var frontier = visited
    // The per-round emptiness test rides the frontier's own checkpoint
    // job via observe (Checkpoints.cutEagerObserved) — one query
    // execution per round instead of a checkpoint plus an isEmpty probe.
    var frontierRows = 1L // the seed row
    var round = 0
    while (round < maxIters && frontierRows > 0L) {
      round += 1
      val (f, m) = graft.Checkpoints.cutEagerObserved(
        frontier
          .join(e, frontier("node") === e("_s"))
          .select(col("_d").as("node"), (col("dist") + 1L).as("dist"))
          .distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti"),
        count(lit(1)).as("_n"))
      frontier = f
      frontierRows = m("_n").asInstanceOf[Long]
      visited = visited.union(frontier).cutLineage()
    }
    visited
  }
}
