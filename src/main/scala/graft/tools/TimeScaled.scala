package graft.tools

/** Scaling-audit timer for the LSH-graph capstones at deployment-correct
  * resolution: `runMain graft.tools.TimeScaled <sfDir> [reps] [tables] [q]`
  * where `q` is `q83` (default) or `q104`: the [[VerifyScaled]] entry
  * whose name starts with `q_`, at that tool's fixture-derived scale.
  *
  * A k× corpus run at the 1× fixture resolution (6 tables × 6 bits = 64
  * buckets/table) grows bucket occupancy k× and candidate pairs ~k² — a
  * fixture-resolution artifact, not a property of the operator (any
  * fixed-resolution LSH degrades identically). This tool re-derives bits
  * from the actual corpus size via `Similarity.lshBitsFor` (constant
  * occupancy ⇒ candidate work linear in n) and raises the table count so
  * multi-table recall stays in the dedup regime: per-table hit P at
  * cosine 0.9 is (1 − acos(.9)/π)^bits ≈ 0.856^12 ≈ 0.155, and
  * 1 − (1 − 0.155)^12 ≈ 87% over 12 tables (vs 95% for the 1× 6×6
  * config). Same session config as [[graft.Bench]] so numbers are
  * comparable; min over reps is the steady-state number recorded in
  * BASELINE.md.
  *
  * Caveat recorded with the audit: at 64 dims the fixture's cosine noise
  * floor is σ ≈ 1/√64 = 0.125, so P(cos ≥ 0.3) ≈ 0.8% for DECORRELATED
  * pairs — at 64× (320k vectors) even the exact threshold-0.3 graph holds
  * ~10⁸ spurious cross-copy edges. Any engine computing that graph
  * inherits this; real corpora use ≥768-dim embeddings where the same
  * tail probability is ~10⁻¹⁶. The audit therefore measures PLAN SHAPE
  * (linear candidate work, log-round components) at constant occupancy,
  * not output semantics, which are degenerate at this dim/scale.
  */
object TimeScaled {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val tables = if (args.length > 2) args(2).toInt else 12
    val q = if (args.length > 3) args(3) else "q83"
    val spark = graft.LocalSession()
    spark.range(1000).selectExpr("sum(id)").collect()

    val scaled = VerifyScaled.defs(VerifyScaled.Scale.of(spark, sfDir, tables))
      .find(_.name.startsWith(q + "_"))
      .getOrElse(sys.error(s"no scaled registry entry named ${q}_*"))
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val rows = scaled.run(spark, sfDir).count()
      System.err.println(
        s"[timescaled] $q rep=$i rows=$rows sec=${(System.nanoTime() - t0) / 1e9}")
    }
    spark.stop()
  }
}
