package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns.{floorMean, quantize}

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory-side half of large-scale ANN
  * that [[Similarity]]'s IVF covers on the routing side. The embedding
  * space splits into `dim / subDim` orthogonal subspaces; each gets its
  * own small codebook (integer Lloyd's, all subspaces trained in ONE
  * grouped iteration); a vector is stored as one code per subspace. At
  * 100 TB this is the difference between 256 B/vector of float and `m`
  * single-byte codes: a 10⁹-vector index collapses from terabytes to
  * gigabytes, and search scans codes with table lookups instead of float
  * dot products.
  *
  * ADC (asymmetric distance computation): a query stays unquantized —
  * per subspace its squared distance to each of the `k` centroids is
  * tabulated once (`q·m·k` integers for the whole query batch), and a
  * corpus vector's approximate distance is the SUM of its codes' table
  * entries: one equi-join on (subspace, code) + one keyed sum, never a
  * per-pair float kernel.
  *
  * Determinism: everything runs on [[graft.functions.VectorFns.quantize]]
  * longs — assignments tiebreak (dist2, code), seeds come from the
  * md5-scatter order, recentering uses the exact
  * [[graft.functions.VectorFns.floorMean]]. Every step hash-matches the
  * DuckDB oracle.
  *
  * One subspace spanning the whole vector (`subDim = Int.MaxValue`: every
  * row has `sub = 0`, `dloc = d`) is plain k-means: q31's Lloyd's is
  * [[train]] at that width, `code` being the cluster.
  *
  * Scale shape: codebooks are statically bounded (m·k·subDim = k·dim
  * longs — the q31 class), so they broadcast; corpus-mass work is one
  * exploded-points aggregation per Lloyd's round keyed (id, sub) and the
  * final (sub, code)-keyed ADC join. The query side of ADC/recall is a
  * BOUNDED SAMPLE by contract (the q122 discipline) — the distance-table
  * join is hint-free, so AQE broadcasts it while it fits.
  */
object Pq {

  /** Quantized sub-vector points: (`__id`, `sub`, `dloc`, `q`). */
  private def subPts(df: DataFrame, idCol: String, vecCol: String,
      subDim: Int): DataFrame =
    df.select(col(idCol).as("__id"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .select(col("__id"),
        expr(s"d div $subDim").cast("long").as("sub"),
        pmod(col("d"), lit(subDim)).cast("long").as("dloc"),
        quantize(col("v")).as("q"))

  /** Nearest-centroid assignment per (vector, subspace): (`__id`, `sub`,
    * `code`, `dist2`), ties → smallest code. */
  private def assign(pts: DataFrame, cents: DataFrame): DataFrame = pts
    .join(broadcast(cents), Seq("sub", "dloc"))
    .groupBy(col("__id"), col("sub"), col("j"))
    .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist2"))
    .groupBy(col("__id"), col("sub"))
    .agg(min(struct(col("dist2"), col("j"))).as("__a"))
    .select(col("__id"), col("sub"), col("__a.j").as("code"),
      col("__a.dist2").as("dist2"))

  /** Train per-subspace codebooks and PQ-encode the training corpus
    * against them: (codebooks, codes). Codebooks are (`sub`, `j`, `dloc`,
    * `c`) — `rounds` Lloyd's cycles over ALL subspaces at once (the group
    * key rides the aggregation keys; no per-subspace driver loop). Seeds:
    * the k md5-scatter-first vectors' sub-slices. A centroid capturing no
    * points in a round drops out (standard empty-cluster behavior,
    * mirrored by the oracle). Codes are (`idCol`, `sub`, `code`, `dist2`)
    * — m rows per vector, `dist2` the per-subspace quantization
    * distortion — assigned from the same checkpointed points the rounds
    * read, so the corpus is exploded and quantized once. */
  def train(df: DataFrame, idCol: String, vecCol: String, subDim: Int,
      k: Int, rounds: Int): (DataFrame, DataFrame) = {
    require(k >= 1 && rounds >= 1 && subDim >= 1)
    val pts = subPts(df, idCol, vecCol, subDim)
      .localCheckpoint(false)
    // seeds in md5 order of the id string, which the DuckDB oracle mirrors
    // verbatim (xxhash64 has no DuckDB twin): deterministic, yet not
    // correlated with id order, where low ids often sit together in space
    // (time-ordered ingest, per-source id blocks)
    val seedOrd = Seq(md5(col("__id").cast("string").cast("binary")),
      col("__id"))
    val init = df.select(col(idCol).as("__id"), col(vecCol).as("__vec"))
      .orderBy(seedOrd: _*).limit(k)
      .withColumn("j", (row_number().over(Window.orderBy(seedOrd: _*)) - 1)
        .cast("long"))
      .select(col("j"), posexplode(col("__vec")).as(Seq("d", "v")))
      .select(expr(s"d div $subDim").cast("long").as("sub"), col("j"),
        pmod(col("d"), lit(subDim)).cast("long").as("dloc"),
        quantize(col("v")).as("c"))
    val cents = (1 until rounds).foldLeft(init) { (cents, _) =>
      pts.join(assign(pts, cents).drop("dist2"), Seq("__id", "sub"))
        .groupBy(col("sub"), col("code"), col("dloc"))
        .agg(sum(col("q")).as("__s"), count(lit(1)).as("__n"))
        .select(col("sub"), col("code").as("j"), col("dloc"),
          floorMean(col("__s"), col("__n")).as("c"))
    }
    (cents, assign(pts, cents).withColumnRenamed("__id", idCol))
  }

  /** ADC top-k: per query (UNQUANTIZED — asymmetric), tabulate per-
    * (subspace, centroid) squared distances, score every encoded corpus
    * vector by summing its codes' entries, keep the `topK` best
    * (ties → smallest id), the query's own row excluded. `queries` must
    * be a bounded sample by contract (the q122 discipline).
    * Output: (`qIdCol`, `rank`, `idCol`, `adc_dist2`). */
  def adcTopK(codes: DataFrame, idCol: String, cents: DataFrame,
      queries: DataFrame, qIdCol: String, vecCol: String, subDim: Int,
      topK: Int): DataFrame = {
    val dt = subPts(queries, qIdCol, vecCol, subDim)
      .join(broadcast(cents), Seq("sub", "dloc"))
      .groupBy(col("__id").as(qIdCol), col("sub"), col("j").as("code"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("pd"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("adc_dist2").asc, col(idCol).asc)
    codes.join(dt, Seq("sub", "code"))
      .filter(col(idCol) =!= col(qIdCol))
      .groupBy(col(qIdCol), col(idCol))
      .agg(sum(col("pd")).as("adc_dist2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(qIdCol), col("rank"), col(idCol), col("adc_dist2"))
  }

  /** Exact integer-L2 top-k over the same quantized grid — the audit
    * baseline ADC is judged against. Queries are a bounded sample by
    * contract; cost is |queries| · |corpus| · dim, the price of ground
    * truth (the q122 discipline). */
  def exactTopK(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, vecCol2: String,
      topK: Int): DataFrame = {
    val cp = subPts(df, idCol, vecCol, Int.MaxValue)
      .select(col("__id").as(idCol), col("dloc").as("d"), col("q"))
    val qp = subPts(queries, qIdCol, vecCol2, Int.MaxValue)
      .select(col("__id").as(qIdCol), col("dloc").as("d"),
        col("q").as("qq"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("dist2").asc, col(idCol).asc)
    cp.join(qp, Seq("d"))
      .filter(col(idCol) =!= col(qIdCol))
      .groupBy(col(qIdCol), col(idCol))
      .agg(sum((col("q") - col("qq")) * (col("q") - col("qq"))).as("dist2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(qIdCol), col("rank"), col(idCol), col("dist2"))
  }

  /** Recall@k of ADC against exact integer L2, per query — truncation-
    * aware: the denominator is `least(topK, n_exact)` (a corpus smaller
    * than k must still be able to reach 1e6 — the q122 lesson).
    * Output: (`qIdCol`, `n_hits`, `n_exact`, `recall_ppm`). */
  def recallAudit(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, subDim: Int,
      k: Int, rounds: Int, topK: Int): DataFrame = {
    val (cents, codes) = train(df, idCol, vecCol, subDim, k, rounds)
    val adc = adcTopK(codes, idCol, cents, queries, qIdCol, qVecCol, subDim,
      topK)
    val exact = exactTopK(df, idCol, vecCol, queries, qIdCol, qVecCol, topK)
    val hits = adc.select(col(qIdCol), col(idCol))
      .join(exact.select(col(qIdCol), col(idCol)), Seq(qIdCol, idCol))
      .groupBy(col(qIdCol)).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col(qIdCol)).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq(qIdCol), "left")
      .select(col(qIdCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_exact"))
      .withColumn("recall_ppm",
        expr(s"n_hits * 1000000L div least(${topK}L, n_exact)"))
  }
}
