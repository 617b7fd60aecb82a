package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFns.{floorMean, quantize}

/** Distributed dense linear algebra over embedding columns — the piece of
  * corpus curation that needs a MATRIX view of the embedding table rather
  * than a per-row one. First resident: the top principal direction by
  * power iteration, the primitive behind embedding whitening, drift
  * detection ("did the dominant direction move between releases?") and
  * the classic all-but-the-top embedding post-processing (Mu &
  * Viswanath 2018, "All-but-the-Top: Simple and Effective Postprocessing
  * for Word Representations").
  *
  * Everything is integer arithmetic in fixed-point units, so the result
  * is bitwise identical on any engine, any partitioning, any core count —
  * the same determinism discipline as [[Pq]]'s Lloyd's. No libm, no FP
  * accumulation order anywhere.
  */
object Linalg {

  /** Mean-centered quantized (id, d, e) frame, checkpointed once — the
    * matrix every [[Linalg]] op iterates over. */
  private def centered(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val x0 = df.select(col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col("__id"), col("d").cast("long").as("d"),
        quantize(col("x")).as("q"))
    val mu = x0.groupBy(col("d"))
      .agg(sum(col("q")).as("__s"), count(lit(1)).as("__n"))
      .select(col("d"), floorMean(col("__s"), col("__n")).as("mu"))
    x0.join(broadcast(mu), Seq("d"))
      .select(col("__id"), col("d"), (col("q") - col("mu")).as("e"))
      .localCheckpoint(false)
  }

  /** (v_{rounds-1}, v_rounds) over the centered frame — shared by
    * [[powerIterationTop]] and [[allButTop]]. */
  private def iterate(xc: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val v0 = xc.select(col("d")).distinct().select(col("d"),
      (conv(substring(md5(concat(lit("pi:"), col("d").cast("string"))),
        1, 8), 16, 10).cast("long") % 2000001L - 1000000L).as("v"))
      .localCheckpoint(false)
    def step(v: DataFrame): DataFrame = {
      val s = xc.join(broadcast(v), Seq("d"))
        .groupBy(col("__id")).agg(sum(col("e") * col("v")).as("__dot"))
        .select(col("__id"), expr("__dot div 1000L").as("s"))
      val w = xc.join(s, Seq("__id"))
        .groupBy(col("d")).agg(sum(col("e") * col("s")).as("w"))
      val den = w.agg(greatest(expr("max(abs(w)) div 1000000L"), lit(1L))
        .as("__den"))
      w.crossJoin(broadcast(den))
        .select(col("d"), expr("w div __den").as("v"))
        .localCheckpoint(false)
    }
    (1 to rounds).foldLeft((v0, v0)) { case ((_, cur), _) => (cur, step(cur)) }
  }

  /** `rounds` power-iteration steps for the top principal direction of
    * the mean-centered quantized embedding matrix, never materializing
    * the d×d covariance: each round is v ← normalize(Xᵀ(X v)) — two
    * linear passes over the exploded (id, dim, value) frame.
    *
    * Fixed-point contract (all BIGINT, engine-exact):
    *  - X quantizes to [[graft.functions.VectorFns.quantize]] and
    *    mean-centers with [[graft.functions.VectorFns.floorMean]] (FLOOR
    *    division, matching DuckDB `//`);
    *  - v lives in 1e6 units, seeded by an md5 scatter per dimension
    *    (decorrelated from any real direction, oracle-spellable);
    *  - s = (X v) div 1000 and the re-normalization denominator
    *    `greatest(max|w| div 1e6, 1)` keep every product under 2^63 for
    *    corpora up to ~10⁹ rows at scale 1000 (|e| ≤ ~4·10³,
    *    |s| ≤ ~2.6·10⁸, |w| ≤ n·10¹²).
    *
    * Output: one row per dimension (d, v_e6) plus the convergence audit
    * `cos2_ppm` = cos²(v_{R−1}, v_R) in ppm (computed on div-1e3
    * downscaled copies so the Cauchy–Schwarz bound keeps the squared dot
    * inside a long) — ~1e6 means the iteration has settled.
    *
    * Scale shape: the exploded frame (n·dim rows) is checkpointed once
    * and touched twice per round through equi-joins (the per-dim v frame
    * broadcasts; the per-row s frame shuffles on id); the v/w frames are
    * |dim| rows. Round count is fixed and small — no driver loop over
    * data, only over PLAN construction. */
  def powerIterationTop(df: DataFrame, idCol: String, vecCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 2, "need >= 2 rounds for the convergence audit")
    val xc = centered(df, idCol, vecCol)
    val (vPrev, vLast) = iterate(xc, rounds)
    val convergence = vPrev.select(col("d"), expr("v div 1000L").as("a"))
      .join(vLast.select(col("d"), expr("v div 1000L").as("b")), Seq("d"))
      .agg(sum(col("a") * col("b")).as("__ab"),
        sum(col("a") * col("a")).as("__aa"),
        sum(col("b") * col("b")).as("__bb"))
      // ab² div aa ≤ bb by Cauchy–Schwarz, so the ·1e6 stays ≤ 6.4e13
      .select(expr("__ab * __ab div greatest(__aa, 1L) * 1000000L" +
        " div greatest(__bb, 1L)").as("cos2_ppm"))
    vLast.select(col("d"), col("v").as("v_e6"))
      .crossJoin(broadcast(convergence))
  }

  /** All-but-the-top postprocessing audit (Mu & Viswanath 2018): remove
    * each centered vector's projection onto the dominant direction and
    * report how much of the corpus variance that single direction
    * carried. With v the [[powerIterationTop]] direction (1e6 units,
    * max-normalized):
    *
    *   c_i  = Σ_j e_ij·v_j            (the unnormalized projection)
    *   r_i  = c_i·1e6 div Σ_j v_j²    (the projection COEFFICIENT, 1e6 units)
    *   e'_ij = e_ij − r_i·v_j div 1e6  (the deflated matrix)
    *
    * and the audit compares Σ (c_i div 1e6)² before vs after deflation
    * (after ≈ 0 up to integer truncation — the residual is the
    * fixed-point noise floor, visible, not hidden). All BIGINT: |c| ≤
    * ‖e‖·‖v‖ ≤ 3.2e4·8e6, vv ≤ 64e12, the squared sums ≤ n·6.7e10.
    *
    * Output: one row (n_vectors, vv, var_top_before_q, var_top_after_q,
    * reduction_ppm, total_var_q, top_share_ppm). Scale shape: the
    * centered frame is checkpointed once; deflation is one broadcast
    * join (v is |dim| rows) plus one per-row aggregate — corpus touched
    * a constant number of times. */
  def allButTop(df: DataFrame, idCol: String, vecCol: String,
      rounds: Int): DataFrame = {
    val xc = centered(df, idCol, vecCol)
    val (_, v) = iterate(xc, rounds)
    val vv = v.agg(sum(col("v") * col("v")).as("vv"))
    val c = xc.join(broadcast(v), Seq("d"))
      .groupBy(col("__id")).agg(sum(col("e") * col("v")).as("c"))
    val r = c.crossJoin(broadcast(vv))
      .select(col("__id"), col("vv"), expr("c * 1000000L div vv").as("r"))
    val deflated = xc.join(r.select(col("__id"), col("r")), Seq("__id"))
      .join(broadcast(v), Seq("d"))
      .select(col("__id"), col("d"),
        (col("e") - expr("r * v div 1000000L")).as("e2"))
    val cAfter = deflated.join(broadcast(v), Seq("d"))
      .groupBy(col("__id")).agg(sum(col("e2") * col("v")).as("c2"))
    val before = c.agg(count(lit(1)).as("n_vectors"),
      sum(expr("(c div 1000000L) * (c div 1000000L)")).as("var_top_before_q"))
    val after = cAfter.agg(
      sum(expr("(c2 div 1000000L) * (c2 div 1000000L)")).as("var_top_after_q"))
    val total = xc.agg(sum(col("e") * col("e")).as("total_var_q"))
    before.crossJoin(after).crossJoin(vv).crossJoin(total)
      .select(col("n_vectors"), col("vv"),
        col("var_top_before_q"), col("var_top_after_q"),
        // denominator downscale, not numerator upscale: before_q·1e6
        // would overflow int64 on large corpora
        expr("(var_top_before_q - var_top_after_q)" +
          " div greatest(var_top_before_q div 1000000L, 1L)")
          .as("reduction_ppm"),
        col("total_var_q"),
        // before_q is Σ(c/1e6)² = (vv/1e12)·Σ(e·v̂)²; divide by vv/1e12
        // to land in total_var_q's e² units, then ratio via the
        // overflow-safe denominator downscale
        expr("(var_top_before_q div greatest(vv div 1000000000000L, 1L))" +
          " div greatest(total_var_q div 1000000L, 1L)").as("top_share_ppm"))
  }
}
