package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality over an edge list — the curation signal the
  * id-list "graph-lite" columns of the reference gesture at (reference:
  * PLATFORM-contextual-Chunking.py:83-114 builds a similar-posts adjacency;
  * ranking THAT graph finds the prototypical documents a curator samples
  * first and the isolated outliers a quality gate inspects).
  *
  * The fixed-iteration power method is the [[Components]] sibling: each
  * round is one equi-join of the rank frame onto the edge list plus one
  * map-side-combined aggregation — never a cross product, never a driver
  * loop over rows. Ranks live in integer parts-per-billion with damping
  * applied as exact integer arithmetic (`r·17 div 20` for d = 0.85), so
  * every round — and therefore the fixed point of any round count — is
  * bitwise identical on any engine and any partitioning.
  */
object Graph {

  /** The edge list as (`__src`, `__dst`) and its node set (`__v`, the
    * union of sources and targets), each lazily checkpointed once: the
    * edge list enters the plan every round (plus the degree sides), so an
    * expensive edge construction (a kNN route) is not re-executed per
    * iteration (persist() at cluster scale). Shared by every loop here. */
  private def edgesAndNodes(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .localCheckpoint(eager = false)
    val nodes = e.select(col("__src").as("__v"))
      .union(e.select(col("__dst").as("__v")))
      .distinct()
      .localCheckpoint(eager = false)
    (e, nodes)
  }

  /** The one damped-rank loop, integer-exact in ppb units, over the
    * (`__v`, `__seed`) node frame with `nSeeds` seeds:
    *
    *   r₀(v)   = [v ∈ S]·(1e9 div |S|)
    *   rₜ₊₁(v) = [v ∈ S]·(3e9 div (20·|S|)) + Σ_{u→v} (rₜ(u)·17 div 20) div outdeg(u)
    *
    * (damping 0.85 = 17/20 exactly; each u splits its damped rank evenly
    * across its out-edges by integer division, so total mass only ever
    * leaks DOWNWARD by the sub-ppb flooring remainders — deterministic,
    * not drifting). Dangling nodes (no out-edges) simply retire their
    * mass — the uncollected-remainder convention, documented rather than
    * redistributed, which keeps every round a single join + aggregate.
    * Plain PageRank is the case where every node is a seed.
    *
    * Scale shape: the edge list is the big side and is touched once per
    * round through an equi-join on `__src`; the rank frame is |V| rows.
    * Lineage is cut every round (lazy localCheckpoint) so deep iteration
    * counts neither replan nor re-execute the whole chain per action.
    * Output: (`__v`, `__r`). */
  private def rankRounds(e: DataFrame, outdeg: DataFrame, flagged: DataFrame,
      nSeeds: Long, iters: Int): DataFrame = {
    var rank = flagged.select(col("__v"),
      when(col("__seed"), lit(1000000000L / nSeeds)).otherwise(0L).as("__r"))
    for (_ <- 1 to iters) {
      val contrib = rank
        .join(e, col("__v") === col("__src"))
        .join(outdeg, Seq("__src"))
        .select(col("__dst").as("__v"),
          expr("(__r * 17L div 20L) div __od").as("__c"))
        .groupBy(col("__v")).agg(sum(col("__c")).as("__in"))
      rank = flagged
        .join(contrib, Seq("__v"), "left")
        .select(col("__v"),
          (when(col("__seed"), lit(3000000000L / (20L * nSeeds)))
            .otherwise(0L) + coalesce(col("__in"), lit(0L))).as("__r"),
          col("__seed"))
        .localCheckpoint(eager = false)
        .select(col("__v"), col("__r"))
    }
    rank
  }

  /** `iters` rounds of damped PageRank over directed `edges(srcCol,
    * dstCol)`, integer-exact in ppb units — [[rankRounds]] with every node
    * a seed:
    *
    *   r₀(v)    = 1e9 div N
    *   rₜ₊₁(v)  = (1e9·(20−17)) div (20·N)  +  Σ_{u→v} (rₜ(u)·17 div 20) div outdeg(u)
    *
    * The node set is the union of sources and targets; a node with no
    * in-edges settles at the teleport floor.
    *
    * Output: (node, rank_ppb, in_degree, out_degree). */
  def pageRankPpb(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol)
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__od"))
    val indeg = e.groupBy(col("__dst")).agg(count(lit(1)).as("__id"))
    // N is a loop-bound scalar (the q120 isEmpty class): one job, |V| → 1;
    // an empty graph has no node to rank, so any positive N serves it
    val n = math.max(nodes.count(), 1L)
    rankRounds(e, outdeg, nodes.withColumn("__seed", lit(true)), n, iters)
      .join(indeg, col("__v") === col("__dst"), "left")
      .join(outdeg, col("__v") === col("__src"), "left")
      .select(col("__v").as("node"), col("__r").as("rank_ppb"),
        coalesce(col("__id"), lit(0L)).as("in_degree"),
        coalesce(col("__od"), lit(0L)).as("out_degree"))
  }

  /** Clamped synchronous label propagation over directed `edges` — the
    * semi-supervised curation step that spreads a sparse trusted signal
    * (human quality labels, verified topic tags) to the unlabeled bulk
    * through the similarity graph. `seeds(nodeCol, labelCol)` pins its
    * nodes to their labels forever; every round, each NON-seed node
    * recomputes its label as the most common label among its out-edge
    * targets' previous-round labels (ties to the SMALLEST label — a total
    * order, so every round is engine-exact), keeping its old label when
    * no neighbor is labeled yet. Nodes never reached by any label finish
    * as -1 (the noise convention of the clustering family).
    *
    * Scale shape per round: one equi-join of the label frame onto the
    * edge list, one (node, label)-keyed count, one |V|-row argmin-struct
    * pick — the [[pageRankPpb]] loop with a mode instead of a sum; same
    * per-round lineage cut. Output: (node, label, is_seed). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, nodeCol: String, labelCol: String,
      iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol)
    var lab = nodes
      .join(seeds.select(col(nodeCol).as("__v"),
        col(labelCol).cast("long").as("__lab")), Seq("__v"), "left")
      .withColumn("__seed", col("__lab").isNotNull)
    for (_ <- 1 to iters) {
      val pick = e
        .join(lab.select(col("__v").as("__dst"), col("__lab").as("__nl")), Seq("__dst"))
        .filter(col("__nl").isNotNull)
        .groupBy(col("__src"), col("__nl"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__src"))
        .agg(min(struct((-col("__c")).as("nc"), col("__nl").as("l"))).as("__m"))
        .select(col("__src").as("__v"), col("__m.l").as("__cand"))
      lab = lab.join(pick, Seq("__v"), "left")
        .select(col("__v"),
          when(col("__seed"), col("__lab"))
            .otherwise(coalesce(col("__cand"), col("__lab"))).as("__lab"),
          col("__seed"))
        .localCheckpoint(eager = false)
    }
    lab.select(col("__v").as("node"),
      coalesce(col("__lab"), lit(-1L)).as("label"),
      col("__seed").as("is_seed"))
  }

  /** Personalized (topic-sensitive) PageRank in integer ppb: the
    * teleport mass restarts ONLY at the seed set, so rank measures graph
    * proximity to the seeds — curation from a trusted corpus slice
    * ("find the documents the kNN graph pulls toward these vetted
    * examples"). [[rankRounds]] with `S` the seeds (the first column of
    * `seeds`) that are nodes of the graph:
    *
    *   r₀(v)   = 1e9 div |S| for v ∈ S, else 0
    *   rₜ₊₁(v) = [v ∈ S]·(3e9 div (20·|S|)) + Σ_{u→v} (rₜ(u)·17 div 20) div outdeg(u)
    *
    * Output: (node, rank_ppb, is_seed). */
  def personalizedPageRankPpb(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol)
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__od"))
    val seedNodes = nodes.join(
      seeds.select(col(seeds.columns.head).as("__v")).distinct(),
      Seq("__v"), "left_semi")
    val flagged = nodes
      .join(seedNodes.withColumn("__is", lit(true)), Seq("__v"), "left")
      .select(col("__v"), coalesce(col("__is"), lit(false)).as("__seed"))
      .localCheckpoint(eager = false)
    val nSeeds = seedNodes.count() // loop-bound scalar, the q120 class
    require(nSeeds > 0, "personalization needs at least one seed in the graph")
    flagged.join(rankRounds(e, outdeg, flagged, nSeeds, iters), Seq("__v"))
      .select(col("__v").as("node"), col("__r").as("rank_ppb"),
        col("__seed").as("is_seed"))
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected edge list — the near-dup-graph QA metric: a candidate
    * graph whose triangles are dense is transitive (true duplicate
    * cliques); a triangle-free one is hash noise. Degree-ordered
    * orientation (Latapy 2008): each undirected edge points from the
    * endpoint with smaller (degree, id) to the larger, so every triangle
    * has exactly one wedge x→y, x→z with y→z closing it — counted once,
    * and the wedge fan-out per node is bounded by its ORIENTED
    * out-degree ≤ O(√m) on any graph, the classic m^{3/2} bound (never
    * the unoriented hub blow-up).
    *
    * Output per node: (node, deg, tri, lcc_ppm = 2·tri·1e6 div
    * (deg·(deg−1)), 0 when deg < 2). Nodes appear iff they touch an
    * edge.
    *
    * Scale shape: dedup + degree are map-combined aggregates; the two
    * wedge joins are equi-joins on node ids over the ORIENTED edge list.
    * All integer. */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = undirected(edges, aCol, bCol)
    val deg = degrees(e)
    val dir = e
      .join(deg.select(col("node").as("u"), col("deg").as("__du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("__dv")), Seq("v"))
      .select(
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint(false)
    val tri = dir.as("e1")
      .join(dir.as("e2"), col("e1.dst") === col("e2.src"))
      .join(dir.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"),
        col("e2.dst").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_ppm",
        when(col("deg") < 2L, lit(0L))
          .otherwise(expr("2L * tri * 1000000L div (deg * (deg - 1L))")))
  }

  /** `rounds`-round k-core peel (Seidman 1983 coreness, round-bounded):
    * repeatedly delete nodes of degree < k and their edges; what survives
    * `rounds` passes is (an over-approximation of) the k-core — the
    * dense seed of a duplicate family, the part of a near-dup graph
    * worth human review. A FIXED round count keeps the computation
    * engine-exact and oracle-spellable; on the fixture graphs peeling
    * reaches its fixpoint well inside the default rounds (spec-pinned),
    * and at any scale a non-converged peel only ADMITS extra low-degree
    * nodes — it never drops a true core member.
    *
    * Output: surviving (node, deg) — degree measured in the final
    * induced subgraph. Scale shape: per round, one map-combined degree
    * count plus two semi-joins of the edge list against the ≥k node set;
    * lineage cut per round ([[Components]] discipline). */
  def kCorePeel(edges: DataFrame, aCol: String, bCol: String, k: Long,
      rounds: Int): DataFrame = {
    require(k >= 2 && rounds >= 1)
    val eFinal = (1 to rounds).foldLeft(undirected(edges, aCol, bCol)) { (e, _) =>
      val keep = degrees(e).filter(col("deg") >= k).select(col("node"))
      e.join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(false)
    }
    degrees(eFinal)
  }

  /** The undirected simple edge set (`u` < `v`, self-loops dropped,
    * deduplicated), lazily checkpointed — the input of the triangle and
    * k-core ops. */
  private def undirected(edges: DataFrame, aCol: String,
      bCol: String): DataFrame =
    edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)

  /** Per-node degree (`node`, `deg`) of an undirected (`u`, `v`) edge set. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
}
