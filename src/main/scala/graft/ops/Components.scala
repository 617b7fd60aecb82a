package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair table — the step that turns near-dup
  * PAIRS (exact, MinHash-LSH, sign-RP-LSH) into dedup GROUPS with one
  * canonical representative each, which is what a corpus dedup actually
  * ships: `keep = (id == component)`.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", SoCC'14). Each round rewrites the edge set:
  *
  *   large-star(u): connect every neighbor LARGER than u to the minimum
  *     of u's closed neighborhood — flattens tall branches.
  *   small-star(u): connect every neighbor SMALLER than u (and u itself)
  *     to the minimum of those — compresses chains toward the root.
  *
  * The edge set monotonically converges to rooted stars whose root is the
  * component minimum, in O(log n) rounds — unlike plain min-label
  * propagation, whose round count is the graph DIAMETER (a chain of
  * near-identical docs makes that linear; measured 19 rounds vs 4 on the
  * sf0.1 near-dup graph). Every step is a groupBy + equi-join on the edge
  * list — no cross products, no driver-side state — so each round is a
  * constant number of shuffles regardless of data size: exactly the shape
  * that survives a 1000-executor 100 TB run.
  *
  * Lineage MUST be truncated every round: the star ops reference their
  * input twice (per-node min and the re-join), so without a checkpoint the
  * logical tree doubles per round — 2^rounds analysis cost and a driver
  * OOM long before the data is the problem. Each round therefore
  * `localCheckpoint`s its edge set (and the input pair plan is
  * checkpointed once, so an expensive upstream pair plan — e.g. an LSH
  * self-join — runs exactly once, not once per round). On a multi-node
  * cluster prefer reliable `checkpoint` to survive executor loss.
  *
  * Convergence test: count plus a sum of `xxhash64(u, v)` over the
  * (canonically oriented) edge set — one cheap scalar aggregate per round
  * on already-materialized data, no change-join needed.
  */
object Components {

  /** One large-star round: for each node u (symmetric neighborhoods),
    * emit (v, min(N(u) ∪ u)) for every neighbor v > u. Output edges are
    * always (larger, smaller).
    *
    * The per-neighborhood min is a WINDOW over partitionBy(u), not a
    * groupBy + re-join: both spell the same "attach min(N(u)) to every
    * edge of u", but the window computes it in place on the one shuffle
    * the neighborhood grouping already pays, where the join form shuffles
    * the edge list a second time. One shuffle per star instead of two —
    * per-round cost, so it compounds over the O(log n) rounds. */
  private def largeStar(e: DataFrame): DataFrame = {
    val byU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .withColumn("m", least(min(col("v")).over(byU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    // no distinct here: smallStar's min-window and final distinct absorb
    // duplicate edges, and skipping it saves one shuffle per round
  }

  /** One small-star round: for each node u, over its SMALLER neighbors
    * G = N⁻(u), emit (x, min(G)) for x ∈ G ∪ {u}, x ≠ min(G). Input and
    * output edges are (larger, smaller)-oriented. Same window-over-join
    * trade as [[largeStar]]; the (u, m) self-edges come out once per edge
    * instead of once per group, which the closing distinct absorbs. */
  private def smallStar(e: DataFrame): DataFrame = {
    val byU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    val withMin = e.withColumn("m", min(col("v")).over(byU))
    withMin.select(col("v").as("x"), col("m"))
      .union(withMin.select(col("u").as("x"), col("m")))
      .filter(col("x") =!= col("m"))
      .select(col("x").as("u"), col("m").as("v"))
      .distinct()
  }

  private def signature(e: DataFrame): (Long, BigDecimal) = {
    // hash sum as decimal(38,0): a long sum of 2^63-scale hashes overflows
    // under ANSI mode
    val r = e.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).first()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** @param vertices one row per vertex
    * @param idCol    vertex id (numeric or string with total order)
    * @param edges    undirected pair table (each pair listed once)
    * @return (idCol, component) — component = min vertex id reachable
    */
  def connectedComponents(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int = 50): DataFrame = {
    // canonical orientation (larger, smaller); drop self-loops and dups
    var e = edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var prevSig: (Long, BigDecimal) = signature(e)
    var iter = 0
    var converged = prevSig._1 == 0L // no edges: every vertex is its own component
    while (!converged && iter < maxIter) {
      // lazy checkpoints: both persist on first use inside the single
      // signature action below (one Spark job per round instead of three);
      // the persisted partitions are still computed exactly once, so the
      // star ops' double references don't recompute and lineage stays flat
      val next = smallStar(largeStar(e).localCheckpoint(eager = false))
        .localCheckpoint(eager = false)
      val sig = signature(next)
      e = next
      converged = sig == prevSig
      prevSig = sig
      iter += 1
    }
    // fixpoint is a star per component: (member, root=min). Roots and
    // isolated vertices carry their own id.
    vertices.select(col(idCol).as("id"))
      .join(e.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("root"), col("id")).as("component"))
  }

  /** Dedup clusters: components plus per-component size and the canonical
    * flag (`component == id` — the smallest id represents the group). */
  def dedupClusters(vertices: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val comp = connectedComponents(vertices, idCol, pairs, aCol, bCol)
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("comp_size"))
    comp.join(sizes, Seq("component"))
      .select(col(idCol), col("component"),
        col("comp_size"),
        (col(idCol) === col("component")).as("is_canonical"))
  }

  /** Quality-aware survivor selection: instead of keeping the arbitrary
    * min-id member of each dedup cluster ([[dedupClusters]]'s
    * `is_canonical`), keep the member with the highest `scoreCol` (ties →
    * smallest id) — what a production dedup ships when members differ
    * (mirrors of the same page with different boilerplate, versions of the
    * same doc at different quality). `clusters` is (`idCol`, `component`)
    * as produced by [[connectedComponents]]; `scores` is (`idCol`,
    * `scoreCol`).
    *
    * The winner per component is a `min(struct(-score, id))` hash
    * aggregate — one map-side-combined pass with an O(1) buffer per
    * component, then a slim equi-join of the |components|-row winner table
    * back onto members. No window sort, no skew on degenerate giant
    * clusters (the aggregate never materializes a cluster's member list).
    */
  def canonicalizeBy(clusters: DataFrame, idCol: String,
      scores: DataFrame, scoreCol: String): DataFrame = {
    val m = clusters.join(scores, Seq(idCol))
    val winners = m.groupBy(col("component"))
      .agg(count(lit(1)).as("comp_size"),
        min(struct((-col(scoreCol)).as("s"), col(idCol).as("i"))).as("__w"))
      .select(col("component"), col("comp_size"), col("__w.i").as("__winner"))
    m.join(winners, Seq("component"))
      .select(col(idCol), col("component"), col("comp_size"), col(scoreCol),
        (col(idCol) === col("__winner")).as("keep"))
  }
}
