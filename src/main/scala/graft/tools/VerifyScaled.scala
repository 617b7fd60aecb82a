package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size}

import graft._
import graft.ops.{Dedup, Similarity}

/** Scaled-fixture CORRECTNESS dump: every registered query with a scale
  * proof ([[SparkEntry.defs]] minus [[Registry.scale8Exclusions]]) plus
  * three bounded `_slice` variants, each written with its oracle SQL so
  * `tools/check_oracle.py <sfDir> <outDir>` runs the DuckDB compare
  * exactly like the correctness gate. Entries in [[overrides]] re-derive
  * their resolution or query-sample modulus from the scaled fixture
  * ([[Scale]]) and generate their oracle SQL at the SAME parameters —
  * proving those knobs change COST, not SEMANTICS. Every other entry is
  * the registered plan and oracle SQL, unchanged.
  *
  * `runMain graft.tools.VerifyScaled <sfDir> <outDir> [tables] [only]` —
  * build the scaled fixture first (`tools/GenScale <sf0.1> <dir> 8
  * perturb`). `only` is a comma-separated name-prefix filter (e.g.
  * `q106,q113` at 64×, where the LSH capstones' reach-CTE oracles are
  * DuckDB-quadratic and not worth the wait).
  *
  * Semantics caveat carried over from [[TimeScaled]]: at 64 dims the
  * fixture's cosine noise floor merges the threshold-0.3/0.35 graphs into
  * giant components at k× scale. That is a property of the DATA both
  * engines see — the comparison stays exact — but it makes the oracle's
  * reach CTE quadratic in component size, so expect the DuckDB side to be
  * the slow half of the check.
  */
object VerifyScaled {
  /** The fixture-derived knobs the [[overrides]] spell their plans and
    * oracle SQL at: LSH band bits and random planes for the embedding
    * count, SimHash bucket bits for the document count, and the BM25
    * query-sample modulus. */
  final case class Scale(n: Long, bits: Int, dim: Int,
      planes: Array[Array[Double]], docBits: Int, queryMod: Long)

  object Scale {
    def of(spark: SparkSession, sfDir: String, tables: Int): Scale = {
      val emb = graft.io.Tables.embeddings(spark, sfDir)
      val n = emb.count()
      val bits = Similarity.lshBitsFor(n)
      // plane dim follows the fixture's actual embedding width (one head()
      // over one row) — a hardcoded dim would silently mis-project any
      // fixture generated at a different width
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val planes = graft.expr.VectorExprs.rademacherPlanes(
        numPlanes = tables * bits, dim = dim, seed = 42L)
      System.err.println(s"[scale] n=$n bits=$bits tables=$tables dim=$dim")
      val nDocs = graft.io.Tables.documents(spark, sfDir).count()
      val docBits = Dedup.simHashBitsFor(nDocs)
      // BM25-family query-sample modulus, re-derived so the query set stays
      // BOUNDED at any k× (a serving workload doesn't grow as 2% of the
      // corpus; a corpus-proportional sample makes the proof quadratic in k
      // — every doc shares a stopword with every query). ~100 queries at
      // the sf0.1 fixture and at every scale above it.
      val queryMod = math.max(50L, 50L * (nDocs / 5000L))
      System.err.println(
        s"[scale] nDocs=$nDocs simHashBits=$docBits queryMod=$queryMod")
      Scale(n, bits, dim, planes, docBits, queryMod)
    }
  }

  /** Scale spellings keyed by the registered query they replace, or by a
    * `name_suffix` variant they add: (plan, oracle SQL) at a [[Scale]]. */
  val overrides: Map[String, Scale => (graft.Q, String)] = Map(
    // the LSH-graph capstones at deployment-correct resolution: bits from
    // lshBitsFor(n) keep bucket occupancy constant at any k×, so
    // candidate work stays linear in n
    ("q83_pipeline_golden", s =>
      (Queries6.q83PipelineWith(_, _, s.planes, s.bits),
        Queries6.q83SqlWith(s.planes, s.bits))),
    ("q104_canonical_dedup", s =>
      (Queries8.q104CanonicalWith(_, _, s.planes, s.bits),
        Queries8.q104SqlWith(s.planes, s.bits))),
    // q124 re-derives its band resolution like q83/q104 (the registered
    // query binds q47's fixture-sized defaults, which are lshBitsFor's
    // own output at fixture n) — constant occupancy at any k×, so the
    // 64× hash-proof runs at linear candidate work
    ("q124_semantic_decon", s =>
      (Queries10.q124SemanticDeconWith(_, _, s.planes, s.bits),
        Queries10.q124SqlWith(s.planes, s.bits))),
    // the BM25 probes run at the re-derived bounded queryMod: q130 over
    // documents, q142/q234 over passages (uncut / df-cut), q143/q243 the
    // passage context built on them
    ("q130_bm25", s =>
      (Queries11.q130Bm25With(_, _, s.queryMod),
        Queries11.q130SqlWith(s.queryMod))),
    ("q142_passage_retrieval", s =>
      (Queries12.passageRetrieval(_, _, None, s.queryMod),
        Queries12.q142SqlWith(None, s.queryMod))),
    ("q234_bm25_df_cutoff", s =>
      (Queries12.passageRetrieval(_, _, Some(300000L), s.queryMod),
        Queries12.q142SqlWith(Some(300000L), s.queryMod))),
    ("q143_passage_context", s =>
      (Queries12.passageContext(_, _, None, s.queryMod),
        Queries12.q143SqlWith(None, s.queryMod))),
    ("q243_passage_context_cut", s =>
      (Queries12.passageContext(_, _, Some(300000L), s.queryMod),
        Queries12.q143SqlWith(Some(300000L), s.queryMod))),
    // q171's SimHash blocking re-derives its bucket bits from the scaled
    // corpus (simHashBitsFor — constant occupancy); its exact Levenshtein
    // side still scales with the (linear) candidate count, so the DuckDB
    // single-node DP makes it an 8×-only proof
    ("q171_edit_confirm", s =>
      (Queries17.q171EditConfirmWith(_, _, s.docBits),
        Queries17.q171SqlWith(s.docBits))),
    // q182/q190 re-derive their LSH resolution like q83/q104 (constant
    // band occupancy at any k×); q195 too, and its oracle shares q182's
    // exact pair grid — 8x only
    ("q182_triangle_stats", s =>
      (Queries20.q182TriangleWith(_, _, s.planes, s.bits),
        Queries20.q182SqlWith(s.planes, s.bits))),
    ("q190_k_core", s =>
      (Queries21.q190KCoreWith(_, _, s.planes, s.bits),
        Queries21.q190SqlWith(s.planes, s.bits))),
    ("q195_mutual_knn", s =>
      (Queries23.q195MutualWith(_, _, s.planes, s.bits),
        Queries23.q195SqlWith(s.planes, s.bits))),
    // q231 re-derives its SimHash bucket resolution like q171 (constant
    // occupancy — its exact Jaccard labeling still scales with the linear
    // candidate count, so 8x-only by that precedent)
    ("q231_near_miss_pairs", s =>
      (Queries33.q231NearMissWith(_, _, s.docBits),
        Queries33.q231SqlWith(s.docBits))),
    // q241 compares the two passage shortlists at the re-derived queryMod
    // (its oracle re-spells both probe chains at that modulus)
    ("q241_cutoff_agreement", s =>
      (Queries35.cutoffAgreement(_, _, s.queryMod),
        Queries35.q241SqlWith(s.queryMod))),
    // groundedness rides the q130 BM25 probe (bounded queryMod — the
    // corpus-proportional sample rule); everything after the pinned
    // context is shortlist-sized span joins. q255 and q265 (same scale
    // rule: 8x perturb, 64x zipf) ride the same chain
    ("q251_groundedness", s =>
      (Queries39.q251With(_, _, s.queryMod),
        Queries39.q251SqlWith(s.queryMod))),
    ("q252_attribution", s =>
      (Queries39.q252With(_, _, s.queryMod),
        Queries39.q252SqlWith(s.queryMod))),
    ("q255_groundedness_sweep", s =>
      (Queries40.q255With(_, _, s.queryMod),
        Queries40.q255SqlWith(s.queryMod))),
    ("q265_groundedness_str_id", s =>
      (Queries46.q265With(_, _, s.queryMod),
        Queries46.q265SqlWith(s.queryMod))),
    // q256 is the q130 probe over the inline zipf remap (the
    // bounded-queryMod rule applies — its own corpus is already
    // long-tailed, which is the point)
    ("q256_bm25_zipf", s =>
      (Queries41.q256With(_, _, s.queryMod),
        Queries41.q256SqlWith(s.queryMod))),
    // exact-kNN routes over the bounded query sample (the q19 class) — 8x
    // proof; 64x is the queries x corpus DuckDB grid, see
    // Registry.scale64OnlyExclusions
    ("q258_matryoshka_overlap", s =>
      (Queries42.q258With(_, _, s.queryMod),
        Queries42.q258SqlWith(s.queryMod))),
    ("q259_matryoshka_sweep", s =>
      (Queries42.q259With(_, _, s.queryMod),
        Queries42.q259SqlWith(s.queryMod))),
    // q267: the IVF-route matryoshka audit — unlike q258/q259's exact
    // grids, the oracle scan is bucket-restricted (nprobe 3 of 10), so
    // the DuckDB side stays ~queries x 0.3 corpus and runs at 64x too
    ("q267_matryoshka_ivf", s =>
      (Queries42.q267With(_, _, s.queryMod),
        Queries42.q267SqlWith(s.queryMod))),
    // bounded-slice spellings for the 64x proof (the q122 id-slice
    // precedent): the ENGINE runs the full banded LSH over the whole
    // corpus and filters finished pairs to the slice; the oracle shingles
    // only the slice (pair generation is pairwise, so slice-restricted
    // pairs equal full pairs with both ends in it). q249's full oracle
    // re-shingles the corpus into 16-byte hex windows and q262/q268's
    // run DuckDB list_intersect over 320k lists — the full spellings stay
    // the 8x proof
    ("q249_asset_near_dup_slice", _ =>
      (Queries38.q249Sliced(_, _, 8L, 3L), Queries38.q249SqlSliced(8L, 3L))),
    ("q262_weighted_jaccard_slice", _ =>
      (Queries44.q262Sliced(_, _, 8L, 3L), Queries44.q262SqlSliced(8L, 3L))),
    ("q268_weighted_minhash_lsh_slice", _ =>
      (Queries44.q268Sliced(_, _, 8L, 3L), Queries44.q268SqlSliced(8L, 3L))))

  /** The dump list at `s`: every scale-proven registered query, replaced
    * by its override where one exists, plus the `_slice` variants. */
  def defs(s: Scale): Seq[QueryDef] = {
    val kept = SparkEntry.defs.filterNot(d =>
      Registry.scale8Exclusions.contains(d.name) || overrides.contains(d.name))
    kept ++ overrides.map { case (name, spell) =>
      val (run, sql) = spell(s)
      QueryDef(name, run, sql)
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val tables = if (args.length > 2) args(2).toInt else 12
    val only: Option[Seq[String]] =
      if (args.length > 3) Some(args(3).split(",").toSeq) else None
    val spark = graft.LocalSession()
    // SPARK_GRAFT_SHUFFLE: partition override for dumps whose verify
    // joins carry wide array rows (q268's 64x expanded-shingle pairs GC-
    // thrash a 32-partition single JVM; more, smaller partitions spill
    // instead — exactly the cluster remedy, minus the extra machines)
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    new java.io.File(outDir).mkdirs()

    val dump = defs(Scale.of(spark, sfDir, tables))
      .filter(d => only.forall(_.exists(d.name.startsWith)))
    dump.foreach { d =>
      val t0 = System.nanoTime()
      d.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${d.name}")
      System.err.println(
        f"[verifyscaled] ${d.name} dumped in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    Verify.writeOracleJson(outDir, dump.map(d => d.name -> d.oracleSql))
    spark.stop()
  }
}
