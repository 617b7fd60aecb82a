package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** Connected components over a pair table — the step that turns near-dup
  * PAIRS (exact, MinHash-LSH, sign-RP-LSH) into dedup GROUPS with one
  * canonical representative each, which is what a corpus dedup actually
  * ships: `keep = (id == component)`.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", SoCC'14). Edges are oriented (u, v) with u > v. Each round
  * rewrites the edge set E:
  *
  *   large-star(u): connect every neighbor LARGER than u to
  *     p(u) = min(N[u]), the minimum of u's closed neighborhood —
  *     flattens tall branches.
  *   small-star(w): connect every neighbor SMALLER than w (and w itself)
  *     to the minimum of those — compresses chains toward the root.
  *
  * The edge set converges to rooted stars whose root is the component
  * minimum, in O(log n) rounds — unlike plain min-label propagation, whose
  * round count is the graph DIAMETER (a chain of near-identical docs makes
  * that linear).
  * Every step is a window or an aggregate over the edge list — no cross
  * products, no driver-side state — so each round is a constant number of
  * shuffles regardless of data size.
  *
  * Contraction: before the rounds, each partition of the deduplicated
  * edge set is contracted on its own — the local step of REPOSE (ICDE'21)
  * ahead of the cross-partition rounds. One `mapPartitions` kernel runs
  * union-find over the partition's edges (union by min under the id type's
  * ordering, path compression) and emits (x, root(x)) for every endpoint
  * x that is not its local component's root. The root is the local
  * component's minimum, so every row keeps u > v. The contracted set has
  * the same components as the input: each emitted edge joins two nodes
  * the partition's edges connect, and each input edge's endpoints are
  * linked to one root. The rounds' fixpoint — the star forest rooted at
  * each component's minimum, (a) below — depends on nothing but the
  * components, so no output row changes, whatever the partitioning. What
  * changes is the round count: a component whose edges share a partition
  * reaches the rounds as a star already. Rounds without and with the
  * contraction, 4 cores: q52, q81 and q104 at sf0.1 7 → 1, q83 at sf0.1
  * 5 → 1, the `pipeline_scaled` near-dup graph (perfbench, seed 1) 5 → 1.
  * The kernel reads the `distinct`'s output inside the setup checkpoint's
  * job (the frame is rebuilt over `queryExecution.toRdd`, as
  * [[Similarity.centroids]] does), so it adds no exchange, no job and no
  * driver collect. Memory: one hash-map entry per distinct endpoint of the
  * partition (at most two per edge), which does not spill.
  *
  * Round shape: 2 exchanges and 3 jobs. The round's input (the previous
  * round's raw small-star output, duplicates included) is made symmetric
  * (E ∪ reverse(E)) and hash-partitioned on u by ONE exchange; the
  * `distinct` and large-star's min window both require a distribution that
  * `HashPartitioning(u)` satisfies, so they ride that exchange. Small-star's
  * window partitions by the emitted larger endpoint — the second exchange;
  * its two union branches read one `ReusedExchange`. The round ends in one
  * eager `localCheckpoint`: two shuffle-map jobs plus the checkpoint's own.
  * The round's convergence signature — count and `xxhash64(u, v)` sum of
  * the deduplicated input (its u > v half) and of the raw output — is
  * collected by `Dataset.observe` during that same checkpoint job, so
  * there is no separate signature action and no aggregate exchange.
  *
  * Multiplicity cannot compound: small-star emits (w, min) once per input
  * row of w, so its raw output carries duplicates, but every round removes
  * them at its input (the `distinct` above) before large-star reads the
  * neighborhoods. A duplicate therefore lives for exactly one exchange,
  * and the edge SETS each round computes are the ones a round with a
  * trailing `distinct` computes — same rounds, same answer. (Both stars
  * produce the same SET from a multiset as from its set: the window mins
  * and the emitted pairs depend only on which edges exist.)
  *
  * Stop rule: stop when the raw output's signature equals the
  * deduplicated input's — the raw output, duplicates and all, IS the input
  * set. This fires exactly when the input set E is a fixpoint
  * (S(L(E)) = E, the set test a trailing-distinct round uses), because:
  *
  *  (a) a fixpoint is a star forest rooted at component minima. Let
  *      E = S(L(E)) and p(u) = min N_E[u]. Large-star gives every w
  *      exactly the smaller neighbors {p(u) : u ∈ N_E(w), u < w}, so
  *      small-star maps w (if it has any smaller neighbor) to
  *      q(w) = min of those p(u). Every emitted edge's smaller endpoint is
  *      some q(w) = p(u*) with u* a neighbor of w. Suppose y = p(u*) also
  *      had a smaller neighbor a. Then y ≠ u* (else p(u*) ≤ a < y), so
  *      y ∈ N_E(u*) with y < u*, and small-star maps u* to
  *      q(u*) ≤ p(y) ≤ a < y — an edge of E = S(L(E)) at u* below
  *      y = min N_E[u*], a contradiction. So no node is both a parent and
  *      a child. A child c with two parents a1 < a2 is mapped to
  *      q(c) = a1 (parents are their own p); the edge (c, a2) must then
  *      come from c ∈ L-neighborhood of some w, i.e. c = p(u) for a
  *      neighbor u of c other than c — a LARGER neighbor, which a child
  *      does not have. So every child has one parent, and E is a star
  *      forest; each star's root is below its leaves, and both stars
  *      preserve connectivity (Kiveris et al.), so each star is one
  *      component rooted at its minimum.
  *  (b) on a deduplicated star forest, large-star emits (leaf, root) once
  *      per leaf (only the root has larger neighbors, and it emits each
  *      once); small-star then maps each leaf to the root once, and its
  *      (root, root) rows are dropped — the raw output equals the input,
  *      each edge once.
  *
  * Conversely, if the signatures match the output set equals E, which is
  * the fixpoint test itself (hash-collision odds as in any count + hash-sum
  * test). So the loop stops on the same round as a per-round
  * `distinct` + signature-action loop, and the checkpoint it stops on is
  * the star forest with each edge once, ready for the final join. As a
  * safety net the loop also stops when a round's input-set signature
  * equals the previous round's; by (a) and (b) that never fires first.
  *
  * Lineage: the star windows reference their input twice (small-star's
  * union branches), so the logical tree would double per round; the eager
  * per-round `localCheckpoint` truncates it. The input pair plan is
  * checkpointed once too, so an expensive upstream pair plan — e.g. the LSH
  * bucket comparison — runs exactly once, not once per round. There is no lazy
  * intermediate checkpoint: large-star's window runs once per round inside
  * the one checkpoint job (the reused exchange feeds both small-star
  * branches), so nothing recomputes it. On a multi-node cluster prefer
  * reliable `checkpoint` to survive executor loss.
  *
  * The setup's jobs (the `distinct`'s exchange and the contraction's
  * checkpoint, with any exchange of the input plan that has not run yet)
  * carry the call site `Components.setup`, and each round's jobs
  * `Components.round<k>`, so a job log or a listener attributes every job
  * to its step.
  */
object Components {

  /** Observe the convergence signature of the (u, v) rows where `keep`
    * holds: count `n` and hash sum `h`. The hash sum is decimal(38,0): a
    * long sum of 2^63-scale hashes overflows under ANSI mode. */
  private def observeSignature(df: DataFrame, o: Observation, keep: Column): DataFrame =
    df.observe(o, count(when(keep, lit(1))).as("n"),
      coalesce(sum(when(keep, xxhash64(col("u"), col("v")).cast("decimal(38,0)"))),
        lit(0).cast("decimal(38,0)")).as("h"))

  private def signature(o: Observation): (Long, BigDecimal) = {
    val m = o.get
    (m("n").asInstanceOf[Long], BigDecimal(m("h").asInstanceOf[java.math.BigDecimal]))
  }

  /** One large-star + small-star round over (larger, smaller)-oriented
    * edges `e`, which may hold duplicates. Returns small-star's raw output,
    * (larger, smaller)-oriented, duplicates kept; `in` observes the
    * deduplicated input set's signature, `out` the raw output's.
    *
    * The per-neighborhood mins are WINDOWS over partitionBy(u), not
    * groupBy + re-join: both spell "attach min(N(u)) to every edge of u",
    * but the window computes it in place on the exchange the neighborhood
    * grouping already pays, where the join form shuffles the edge list a
    * second time. */
  private def starRound(e: DataFrame, in: Observation, out: Observation): DataFrame = {
    val byU = Window.partitionBy("u")
    val sym = observeSignature(
      e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
        .distinct(),
      in, col("u") > col("v"))
    // large-star: (v, p(u)) for every neighbor v > u
    val large = sym
      .withColumn("m", least(min(col("v")).over(byU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    // small-star: (x, min(G)) for x in G ∪ {u}, G = u's smaller neighbors
    val withMin = large.withColumn("m", min(col("v")).over(byU))
    val small = withMin.select(col("v").as("x"), col("m"))
      .union(withMin.select(col("u").as("x"), col("m")))
      .filter(col("x") =!= col("m"))
      .select(col("x").as("u"), col("m").as("v"))
    observeSignature(small, out, lit(true))
  }

  /** The contraction: one partition's distinct (larger, smaller) edges as
    * the star forest of their local components — one (x, root(x)) row per
    * endpoint x that is not its component's root. Union-find over the
    * partition's endpoints, union by min (the smaller root wins, under the
    * id type's ordering) with path compression, so each root is its local
    * component's minimum and every row still has u > v. Holds one map
    * entry per distinct endpoint. A key is copied out of the input row
    * (which the scan reuses, `UTF8String` bytes included) before it is
    * stored, and every value is the stored object of some key, so nodes
    * compare by reference. */
  private def contract(rows: Iterator[InternalRow], idType: DataType): Iterator[InternalRow] = {
    val ordering = PhysicalDataType.ordering(idType)
    val parent = new java.util.HashMap[AnyRef, AnyRef]()
    def find(x: AnyRef): AnyRef = {
      var root = x
      while (parent.get(root) ne root) root = parent.get(root)
      var y = x
      while (y ne root) { val next = parent.get(y); parent.put(y, root); y = next }
      root
    }
    def node(r: InternalRow, i: Int): AnyRef = {
      val x = r.get(i, idType)
      val stored = parent.get(x)
      if (stored != null) find(stored)
      else { val c = InternalRow.copyValue(x).asInstanceOf[AnyRef]; parent.put(c, c); c }
    }
    rows.foreach { r =>
      val (a, b) = (node(r, 0), node(r, 1))
      if (a ne b) {
        if (ordering.lt(a, b)) parent.put(b, a) else parent.put(a, b)
      }
    }
    parent.keySet.iterator.asScala.flatMap { x =>
      val root = find(x)
      if (root eq x) None else Some(new GenericInternalRow(Array[Any](x, root)))
    }
  }

  /** @param vertices one row per vertex
    * @param idCol    vertex id (numeric or string with total order)
    * @param edges    undirected pair table (each pair listed once)
    * @return (idCol, component) — component = min vertex id reachable
    */
  def connectedComponents(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int = 50): DataFrame = {
    val sc = edges.sparkSession.sparkContext
    // the caller's call site, as `setCallSite(String)` stores it
    val callerSite = sc.getLocalProperty("callSite.short")
    // the jobs `body` launches (AQE's stage jobs inherit local properties)
    // carry the label `site`
    def labelled[T](site: String)(body: => T): T = {
      sc.setCallSite(site)
      try body finally sc.setLocalProperty("callSite.short", callerSite)
    }
    // canonical orientation (larger, smaller); drop self-loops and dups
    val oriented = edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val idType = oriented.schema.head.dataType
    val setup = Observation()
    var e = labelled("Components.setup") {
      // capturing the RDD runs the distinct's exchange here
      val stars = oriented.queryExecution.toRdd.mapPartitions(contract(_, idType))
      Bridge.dataFrameFromInternalRdd(edges.sparkSession, stars, oriented.schema)
        .observe(setup, count(lit(1)).as("n"))
        .localCheckpoint()
    }
    var prevIn: Option[(Long, BigDecimal)] = None
    var iter = 0
    // no edges: every vertex is its own component
    var converged = setup.get("n").asInstanceOf[Long] == 0L
    while (!converged && iter < maxIter) {
      iter += 1
      val (in, out) = (Observation(), Observation())
      e = labelled(s"Components.round$iter")(starRound(e, in, out).localCheckpoint())
      val inSig = signature(in)
      converged = signature(out) == inSig || prevIn.contains(inSig)
      prevIn = Some(inSig)
    }
    // fixpoint is a star per component: (member, root=min), each edge
    // once. Roots and isolated vertices carry their own id.
    vertices.select(col(idCol).as("id"))
      .join(e.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("root"), col("id")).as("component"))
  }

  /** Dedup clusters: components plus per-component size and the canonical
    * flag (`component == id` — the smallest id represents the group). */
  def dedupClusters(vertices: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    // the size is a window over the component, not a group-by joined
    // back: same rows and values, one exchange fewer
    connectedComponents(vertices, idCol, pairs, aCol, bCol)
      .select(col(idCol), col("component"),
        count(lit(1)).over(Window.partitionBy("component")).as("comp_size"),
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
