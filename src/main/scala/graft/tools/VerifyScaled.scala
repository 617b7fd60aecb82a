package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.ops.Similarity

/** Scaled-fixture CORRECTNESS dump for the LSH-graph capstones at
  * deployment-correct resolution — the hash-check counterpart of
  * [[TimeScaled]] (which only times): proves the `lshBitsFor` resolution
  * knob changes COST, not SEMANTICS, by dumping q83/q104 at the re-derived
  * resolution together with oracle SQL generated at the SAME resolution
  * (`Queries6.q83SqlWith` / `Queries8.q104SqlWith`), so
  * `tools/check_oracle.py <sfDir> <outDir>` runs the DuckDB compare
  * exactly like the driver's gate.
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
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val tables = if (args.length > 2) args(2).toInt else 12
    val only: Option[Seq[String]] =
      if (args.length > 3) Some(args(3).split(",").toSeq) else None
    def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
    val spark = graft.LocalSession()
    // SPARK_GRAFT_SHUFFLE: partition override for dumps whose verify
    // joins carry wide array rows (q268's 64x expanded-shingle pairs GC-
    // thrash a 32-partition single JVM; more, smaller partitions spill
    // instead — exactly the cluster remedy, minus the extra machines)
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    new java.io.File(outDir).mkdirs()

    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val bits = Similarity.lshBitsFor(n)
    // plane dim follows the fixture's actual embedding width (one head()
    // over one row) — a hardcoded dim would silently mis-project any
    // fixture generated at a different width
    val dim = emb.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    val planes = graft.expr.VectorExprs.rademacherPlanes(
      numPlanes = tables * bits, dim = dim, seed = 42L)
    System.err.println(s"[verifyscaled] n=$n bits=$bits tables=$tables dim=$dim")

    val nDocs = graft.io.Tables.documents(spark, sfDir).count()
    val docBits = graft.ops.Dedup.simHashBitsFor(nDocs)
    // BM25-family query-sample modulus, re-derived so the query set stays
    // BOUNDED at any k× (a serving workload doesn't grow as 2% of the
    // corpus; a corpus-proportional sample makes the proof quadratic in k
    // — every doc shares a stopword with every query). ~100 queries at
    // the sf0.1 fixture and at every scale above it.
    val queryMod = math.max(50L, 50L * (nDocs / 5000L))
    System.err.println(
      s"[verifyscaled] nDocs=$nDocs simHashBits=$docBits queryMod=$queryMod")

    val queries = queryMap(spark, sfDir, planes, bits, docBits, queryMod)
    queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      fn().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      System.err.println(
        f"[verifyscaled] $name dumped in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val oracle = oracleMap(planes, bits, docBits, queryMod)
    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracle.filter(q => selected(q._1))
      .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** The scale-proof query registry, exposed as a method so RegistrySpec
    * can mechanically assert every entry resolves against SparkEntry and
    * every SparkEntry query is either registered here or carries a
    * documented exclusion in [[Registry]]. Thunks are lazy — building the
    * map executes nothing.
    *
    * q106/q113 need no resolution retune — they are the standard
    * SparkEntry plans + oracle SQL, hash-checked here at 8x deploy scale. */
  def queryMap(spark: SparkSession, sfDir: String,
      planes: Array[Array[Double]], bits: Int, docBits: Int,
      queryMod: Long): Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "q83_pipeline_golden" ->
        (() => graft.Queries6.q83PipelineWith(spark, sfDir, planes, bits)),
      "q104_canonical_dedup" ->
        (() => graft.Queries8.q104CanonicalWith(spark, sfDir, planes, bits)),
      "q31_kmeans" ->
        (() => graft.SparkEntry.queries("q31_kmeans")(spark, sfDir)),
      "q106_decon_apply" ->
        (() => graft.SparkEntry.queries("q106_decon_apply")(spark, sfDir)),
      "q113_selection_capstone" ->
        (() => graft.SparkEntry.queries("q113_selection_capstone")(spark, sfDir)),
      "q115_semantic_dedup" ->
        (() => graft.SparkEntry.queries("q115_semantic_dedup")(spark, sfDir)),
      "q117_semantic_thinning_report" ->
        (() => graft.SparkEntry.queries("q117_semantic_thinning_report")(spark, sfDir)),
      "q119_crossdoc_span_dedup" ->
        (() => graft.SparkEntry.queries("q119_crossdoc_span_dedup")(spark, sfDir)),
      "q120_bpe_merges" ->
        (() => graft.SparkEntry.queries("q120_bpe_merges")(spark, sfDir)),
      "q121_bpe_compression" ->
        (() => graft.SparkEntry.queries("q121_bpe_compression")(spark, sfDir)),
      // q122's EXACT audit side is queries × corpus by design — at 64×
      // that is ~1.3k × 128k cosine pairs in DuckDB; prove at 8× only
      "q122_ivf_recall" ->
        (() => graft.SparkEntry.queries("q122_ivf_recall")(spark, sfDir)),
      "q123_bigram_predictability" ->
        (() => graft.SparkEntry.queries("q123_bigram_predictability")(spark, sfDir)),
      // q124 re-derives its band resolution like q83/q104 (the registered
      // query binds q47's fixture-sized defaults, which are lshBitsFor's
      // own output at fixture n) — constant occupancy at any k×, so the
      // 64× hash-proof runs at linear candidate work
      "q124_semantic_decon" ->
        (() => graft.Queries10.q124SemanticDeconWith(spark, sfDir, planes, bits)),
      "q125_bpe_segment_new" ->
        (() => graft.SparkEntry.queries("q125_bpe_segment_new")(spark, sfDir)),
      "q126_tokenizer_fertility" ->
        (() => graft.SparkEntry.queries("q126_tokenizer_fertility")(spark, sfDir)),
      "q127_span_leak_audit" ->
        (() => graft.SparkEntry.queries("q127_span_leak_audit")(spark, sfDir)),
      "q128_trigram_backoff" ->
        (() => graft.SparkEntry.queries("q128_trigram_backoff")(spark, sfDir)),
      "q129_packing_efficiency" ->
        (() => graft.SparkEntry.queries("q129_packing_efficiency")(spark, sfDir)),
      // the retrieval wave needs no resolution retune: BM25's postings
      // join and the RRF/mining/PageRank ranks are resolution-free; the
      // knn shortlists are bounded query samples (q19's class), so the
      // DuckDB side stays queries × corpus, linear in the fixture factor
      "q130_bm25" ->
        (() => graft.Queries11.q130Bm25With(spark, sfDir, queryMod)),
      "q131_hybrid_rrf" ->
        (() => graft.SparkEntry.queries("q131_hybrid_rrf")(spark, sfDir)),
      "q132_hard_negatives" ->
        (() => graft.SparkEntry.queries("q132_hard_negatives")(spark, sfDir)),
      "q133_knn_pagerank" ->
        (() => graft.SparkEntry.queries("q133_knn_pagerank")(spark, sfDir)),
      "q134_prf_expansion" ->
        (() => graft.SparkEntry.queries("q134_prf_expansion")(spark, sfDir)),
      "q135_retrieval_ndcg" ->
        (() => graft.SparkEntry.queries("q135_retrieval_ndcg")(spark, sfDir)),
      "q136_label_propagation" ->
        (() => graft.SparkEntry.queries("q136_label_propagation")(spark, sfDir)),
      "q137_expanded_bm25" ->
        (() => graft.SparkEntry.queries("q137_expanded_bm25")(spark, sfDir)),
      "q138_route_ab" ->
        (() => graft.SparkEntry.queries("q138_route_ab")(spark, sfDir)),
      "q139_norm_outliers" ->
        (() => graft.SparkEntry.queries("q139_norm_outliers")(spark, sfDir)),
      "q140_release_psi" ->
        (() => graft.SparkEntry.queries("q140_release_psi")(spark, sfDir)),
      "q141_sentence_chunks" ->
        (() => graft.SparkEntry.queries("q141_sentence_chunks")(spark, sfDir)),
      "q142_passage_retrieval" ->
        (() => graft.Queries12.passageRetrieval(spark, sfDir, None, queryMod)),
      "q234_bm25_df_cutoff" ->
        (() => graft.Queries12.passageRetrieval(spark, sfDir,
          Some(300000L), queryMod)),
      "q143_passage_context" ->
        (() => graft.Queries12.passageContext(spark, sfDir, None, queryMod)),
      "q243_passage_context_cut" ->
        (() => graft.Queries12.passageContext(spark, sfDir,
          Some(300000L), queryMod)),
      "q144_multimodal_packing" ->
        (() => graft.SparkEntry.queries("q144_multimodal_packing")(spark, sfDir)),
      "q145_sft_render" ->
        (() => graft.SparkEntry.queries("q145_sft_render")(spark, sfDir)),
      "q146_needle_depth" ->
        (() => graft.SparkEntry.queries("q146_needle_depth")(spark, sfDir)),
      // wave 13 needs no resolution retune: preference pairs are
      // window+equi-join, the BPE-prune chains run on the vocab frame,
      // and PQ's codebooks are statically bounded. q152's EXACT audit
      // side is queries × corpus by design (the q122 class) — prove at
      // 8× only
      "q147_preference_pairs" ->
        (() => graft.SparkEntry.queries("q147_preference_pairs")(spark, sfDir)),
      "q148_vocab_prune" ->
        (() => graft.SparkEntry.queries("q148_vocab_prune")(spark, sfDir)),
      "q149_prune_impact" ->
        (() => graft.SparkEntry.queries("q149_prune_impact")(spark, sfDir)),
      "q150_pq_codebook" ->
        (() => graft.SparkEntry.queries("q150_pq_codebook")(spark, sfDir)),
      "q151_pq_adc_topk" ->
        (() => graft.SparkEntry.queries("q151_pq_adc_topk")(spark, sfDir)),
      "q152_pq_recall" ->
        (() => graft.SparkEntry.queries("q152_pq_recall")(spark, sfDir)),
      // wave 14 needs no resolution retune: pass@k and DoReMi run on
      // task-/domain-bounded aggregates, prefix-cache and best-of-n on
      // route-/prompt-keyed windows, unigram Viterbi on the distinct-word
      // frame. q157's EXACT mining grid is src × tgt by design (the q16
      // parity class) — prove at 8× only
      "q153_pass_at_k" ->
        (() => graft.SparkEntry.queries("q153_pass_at_k")(spark, sfDir)),
      "q154_prefix_cache" ->
        (() => graft.SparkEntry.queries("q154_prefix_cache")(spark, sfDir)),
      "q155_best_of_n" ->
        (() => graft.SparkEntry.queries("q155_best_of_n")(spark, sfDir)),
      "q156_doremi_weights" ->
        (() => graft.SparkEntry.queries("q156_doremi_weights")(spark, sfDir)),
      "q157_bitext_mining" ->
        (() => graft.SparkEntry.queries("q157_bitext_mining")(spark, sfDir)),
      "q158_unigram_segment" ->
        (() => graft.SparkEntry.queries("q158_unigram_segment")(spark, sfDir)),
      // wave 15 needs no resolution retune: FIM/span-corruption are
      // per-row / per-doc projections, diversity and novelty are
      // shingle-keyed equi-joins — all linear in the corpus
      "q159_fim" ->
        (() => graft.SparkEntry.queries("q159_fim")(spark, sfDir)),
      "q160_span_corrupt" ->
        (() => graft.SparkEntry.queries("q160_span_corrupt")(spark, sfDir)),
      "q161_diversity" ->
        (() => graft.SparkEntry.queries("q161_diversity")(spark, sfDir)),
      "q162_novelty" ->
        (() => graft.SparkEntry.queries("q162_novelty")(spark, sfDir)),
      // wave 16: q163's rounds run on the preference edge frame
      // (items × avg-degree, corpus-independent); q164 composes q157's
      // exact mining grid — the q16 parity class, prove at 8× only
      "q163_bradley_terry" ->
        (() => graft.SparkEntry.queries("q163_bradley_terry")(spark, sfDir)),
      "q164_bitext_clean" ->
        (() => graft.SparkEntry.queries("q164_bitext_clean")(spark, sfDir)),
      // q165's p-table is a literal broadcast; q166 is one explode +
      // keyed distinct-count — both corpus-linear
      "q165_sign_test" ->
        (() => graft.SparkEntry.queries("q165_sign_test")(spark, sfDir)),
      "q166_block_reuse" ->
        (() => graft.SparkEntry.queries("q166_block_reuse")(spark, sfDir)),
      // wave 17 needs no resolution retune EXCEPT q171: voting /
      // calibration / kappa / acceptance are map-combined aggregates,
      // corpus-linear. q171's SimHash blocking re-derives its bucket
      // bits from the scaled corpus (simHashBitsFor — constant
      // occupancy); its exact Levenshtein side still scales with the
      // (linear) candidate count, so like q122/q152/q157 the DuckDB
      // single-node DP makes it an 8×-only proof
      "q167_self_consistency" ->
        (() => graft.SparkEntry.queries("q167_self_consistency")(spark, sfDir)),
      "q168_ece" ->
        (() => graft.SparkEntry.queries("q168_ece")(spark, sfDir)),
      "q169_fleiss_kappa" ->
        (() => graft.SparkEntry.queries("q169_fleiss_kappa")(spark, sfDir)),
      "q170_spec_decode" ->
        (() => graft.SparkEntry.queries("q170_spec_decode")(spark, sfDir)),
      "q171_edit_confirm" ->
        (() => graft.Queries17.q171EditConfirmWith(spark, sfDir, docBits)),
      // wave 18 needs no resolution retune: the sketches are fixed-size
      // keyed aggregates (that is their whole point), advantages /
      // budgets / trimmed means are group-bounded windows
      "q172_cms_heavy_hitters" ->
        (() => graft.SparkEntry.queries("q172_cms_heavy_hitters")(spark, sfDir)),
      "q173_hll_cardinality" ->
        (() => graft.SparkEntry.queries("q173_hll_cardinality")(spark, sfDir)),
      "q174_grpo_advantage" ->
        (() => graft.SparkEntry.queries("q174_grpo_advantage")(spark, sfDir)),
      "q175_coverage_budget" ->
        (() => graft.SparkEntry.queries("q175_coverage_budget")(spark, sfDir)),
      "q176_trimmed_eval" ->
        (() => graft.SparkEntry.queries("q176_trimmed_eval")(spark, sfDir)),
      // wave 19 needs no resolution retune: KMV / MinHash-signature /
      // histogram sketches are fixed-size keyed aggregates, and the
      // q178/q180 pair frames are |sources|²-bounded (the exact-audit
      // joins are equi-joins on token/fingerprint over DISTINCT frames,
      // linear in vocab / corpus)
      "q177_kmv_distinct" ->
        (() => graft.SparkEntry.queries("q177_kmv_distinct")(spark, sfDir)),
      "q178_source_overlap" ->
        (() => graft.SparkEntry.queries("q178_source_overlap")(spark, sfDir)),
      "q179_hist_quantiles" ->
        (() => graft.SparkEntry.queries("q179_hist_quantiles")(spark, sfDir)),
      "q180_cross_source_dups" ->
        (() => graft.SparkEntry.queries("q180_cross_source_dups")(spark, sfDir)),
      // wave 20: q181's fixed-point iteration runs on the |dim|-row v
      // frame (corpus touched twice per round through equi-joins);
      // q182 re-derives its LSH resolution like q83/q104 (constant band
      // occupancy at any k×); q183/q184 are window-/group-bounded;
      // q185's registers are fixed-size by construction
      "q181_power_iteration" ->
        (() => graft.SparkEntry.queries("q181_power_iteration")(spark, sfDir)),
      "q182_triangle_stats" ->
        (() => graft.Queries20.q182TriangleWith(spark, sfDir, planes, bits)),
      "q183_priority_sample" ->
        (() => graft.SparkEntry.queries("q183_priority_sample")(spark, sfDir)),
      "q184_k_anonymity" ->
        (() => graft.SparkEntry.queries("q184_k_anonymity")(spark, sfDir)),
      "q185_hll_merge" ->
        (() => graft.SparkEntry.queries("q185_hll_merge")(spark, sfDir)),
      // wave 21: q186 shares q181's iteration shape; q187/q189 are
      // vocab-/domain-bounded aggregates; q188 is the q07 fingerprint
      // shuffle; q190 re-derives its LSH resolution like q182
      "q186_all_but_top" ->
        (() => graft.SparkEntry.queries("q186_all_but_top")(spark, sfDir)),
      "q187_collocations" ->
        (() => graft.SparkEntry.queries("q187_collocations")(spark, sfDir)),
      "q188_cluster_folds" ->
        (() => graft.SparkEntry.queries("q188_cluster_folds")(spark, sfDir)),
      "q189_threshold_calibration" ->
        (() => graft.SparkEntry.queries("q189_threshold_calibration")(spark, sfDir)),
      "q190_k_core" ->
        (() => graft.Queries21.q190KCoreWith(spark, sfDir, planes, bits)),
      // wave 22: q191's windows are (epoch, shard)-bounded; q192's are
      // (type, hour)-bucketed; q193 runs on the |labels|·dim centroid
      // frame; q194 is the q14 banded-candidate shape
      "q191_shuffle_quality" ->
        (() => graft.SparkEntry.queries("q191_shuffle_quality")(spark, sfDir)),
      "q192_burst_detection" ->
        (() => graft.SparkEntry.queries("q192_burst_detection")(spark, sfDir)),
      "q193_label_separation" ->
        (() => graft.SparkEntry.queries("q193_label_separation")(spark, sfDir)),
      "q194_containment_dups" ->
        (() => graft.SparkEntry.queries("q194_containment_dups")(spark, sfDir)),
      // wave 23: q195 re-derives its LSH resolution (its oracle shares
      // q182's exact pair grid — 8x only); q196/q197 are span-keyed and
      // corpus-linear (64x fine); q198 composes the FIXTURE-resolution
      // q14/q73 tiers, so it proves at 8x and its scale spelling is the
      // parameterized members it composes
      "q195_mutual_knn" ->
        (() => graft.Queries23.q195MutualWith(spark, sfDir, planes, bits)),
      "q196_decon_tiers" ->
        (() => graft.SparkEntry.queries("q196_decon_tiers")(spark, sfDir)),
      "q197_span_positions" ->
        (() => graft.SparkEntry.queries("q197_span_positions")(spark, sfDir)),
      "q198_dedup_venn" ->
        (() => graft.SparkEntry.queries("q198_dedup_venn")(spark, sfDir)),
      // wave 24: q199's rounds are anti-joins on the distinct shingle
      // frame (corpus-linear, 8 fixed rounds); q200 composes corpus-
      // linear per-source aggregates
      "q199_greedy_coverage" ->
        (() => graft.SparkEntry.queries("q199_greedy_coverage")(spark, sfDir)),
      "q200_release_datasheet" ->
        (() => graft.SparkEntry.queries("q200_release_datasheet")(spark, sfDir)),
      // wave 25: all three are keyed aggregates over the event log /
      // fact table; windows bounded by day spans, corpus-linear
      "q201_cohort_retention" ->
        (() => graft.SparkEntry.queries("q201_cohort_retention")(spark, sfDir)),
      "q202_forward_fill" ->
        (() => graft.SparkEntry.queries("q202_forward_fill")(spark, sfDir)),
      "q203_column_profile" ->
        (() => graft.SparkEntry.queries("q203_column_profile")(spark, sfDir)),
      // wave 26: q204's conversion join is user-keyed (per-user groups
      // meet, 64x fine); q205 composes q133's exact kNN oracle grid —
      // the queries x corpus class, 8x only
      "q204_funnel_conversion" ->
        (() => graft.SparkEntry.queries("q204_funnel_conversion")(spark, sfDir)),
      "q205_personalized_pr" ->
        (() => graft.SparkEntry.queries("q205_personalized_pr")(spark, sfDir)),
      // wave 27: q206 rolls the corpus to a per-user frame first; the
      // ntile windows run over |users| rows
      "q206_rfm_segments" ->
        (() => graft.SparkEntry.queries("q206_rfm_segments")(spark, sfDir)),
      // wave 28: q207's pair join is basket-width-bounded after the
      // A-priori singleton prune (the brand universe is a dimension —
      // the DISTINCT membership frame scales with orders, pairs per
      // basket stay constant); q208/q209 are user-keyed window passes;
      // q210 is the gaps-and-islands window keyed on the dimension key
      "q207_assoc_rules" ->
        (() => graft.SparkEntry.queries("q207_assoc_rules")(spark, sfDir)),
      "q208_markov_transitions" ->
        (() => graft.SparkEntry.queries("q208_markov_transitions")(spark, sfDir)),
      "q209_last_touch" ->
        (() => graft.SparkEntry.queries("q209_last_touch")(spark, sfDir)),
      "q210_scd2_dimension" ->
        (() => graft.SparkEntry.queries("q210_scd2_dimension")(spark, sfDir)),
      // wave 29: q211/q212 are digit-/rank-keyed aggregates (ranks
      // windowed per source, no global sort); q213/q214 are user-keyed
      // windows; q215 is the q204 deadline-bounded funnel-join class
      "q211_benford" ->
        (() => graft.SparkEntry.queries("q211_benford")(spark, sfDir)),
      "q212_gini_concentration" ->
        (() => graft.SparkEntry.queries("q212_gini_concentration")(spark, sfDir)),
      "q213_decay_score" ->
        (() => graft.SparkEntry.queries("q213_decay_score")(spark, sfDir)),
      "q214_session_paths" ->
        (() => graft.SparkEntry.queries("q214_session_paths")(spark, sfDir)),
      "q215_linear_attribution" ->
        (() => graft.SparkEntry.queries("q215_linear_attribution")(spark, sfDir)),
      // wave 30: q216's rank window runs over the |parts| dimension
      // frame (facts roll up first); q217 over the (type, day) frame;
      // q218's full-outer join is per-parent aggregates on both sides;
      // q219/q220 are user-/type-keyed window passes
      "q216_abc_parts" ->
        (() => graft.SparkEntry.queries("q216_abc_parts")(spark, sfDir)),
      "q217_weekday_profile" ->
        (() => graft.SparkEntry.queries("q217_weekday_profile")(spark, sfDir)),
      "q218_reconcile" ->
        (() => graft.SparkEntry.queries("q218_reconcile")(spark, sfDir)),
      "q219_purchase_intervals" ->
        (() => graft.SparkEntry.queries("q219_purchase_intervals")(spark, sfDir)),
      "q220_lateness_profile" ->
        (() => graft.SparkEntry.queries("q220_lateness_profile")(spark, sfDir)),
      // wave 31: q221/q222 are fingerprint-keyed aggregates (corpus
      // touched once, md5 map-side); q223 runs on the prompt-bounded
      // pair frame; q224's windows are source-keyed over the per-source
      // vocab; q225 is a per-parent-style full-outer id join
      "q221_template_floods" ->
        (() => graft.SparkEntry.queries("q221_template_floods")(spark, sfDir)),
      "q222_provenance_manifest" ->
        (() => graft.SparkEntry.queries("q222_provenance_manifest")(spark, sfDir)),
      "q223_position_bias" ->
        (() => graft.SparkEntry.queries("q223_position_bias")(spark, sfDir)),
      "q224_nucleus_vocab" ->
        (() => graft.SparkEntry.queries("q224_nucleus_vocab")(spark, sfDir)),
      "q225_vector_store_audit" ->
        (() => graft.SparkEntry.queries("q225_vector_store_audit")(spark, sfDir)),
      // wave 32: q226's cutoff windows run over the DISTINCT-score frame
      // (value-domain bounded); q227 is a vocab-keyed conditional
      // aggregate + TakeOrderedAndProject; q228 reranks the bounded
      // BM25 shortlist (the q19 queries-sample class — its postings
      // probe oracle is the q130 family, 8x-only by that precedent)
      "q226_decile_mix" ->
        (() => graft.SparkEntry.queries("q226_decile_mix")(spark, sfDir)),
      "q227_emerging_terms" ->
        (() => graft.SparkEntry.queries("q227_emerging_terms")(spark, sfDir)),
      "q228_rerank_agreement" ->
        (() => graft.SparkEntry.queries("q228_rerank_agreement")(spark, sfDir)),
      // wave 33: q229/q230 are k-/strata-bounded aggregates (64x fine);
      // q231 re-derives its SimHash bucket resolution like q171
      // (constant occupancy — its exact Jaccard labeling still scales
      // with the linear candidate count, so 8x-only by that precedent)
      "q229_sampler_uniformity" ->
        (() => graft.SparkEntry.queries("q229_sampler_uniformity")(spark, sfDir)),
      "q230_variance_allocation" ->
        (() => graft.SparkEntry.queries("q230_variance_allocation")(spark, sfDir)),
      "q231_near_miss_pairs" ->
        (() => graft.Queries33.q231NearMissWith(spark, sfDir, docBits)),
      // wave 34: q232's tiers are fingerprint-keyed aggregates (corpus
      // md5'd once per tier); q233 aggregates each side to its key
      // frame before any join — both corpus-linear
      "q232_dedup_roi" ->
        (() => graft.SparkEntry.queries("q232_dedup_roi")(spark, sfDir)),
      "q233_join_amplification" ->
        (() => graft.SparkEntry.queries("q233_join_amplification")(spark, sfDir)),
      // wave 35: q235/q236/q237 ride the two-phase globalRankCumsum (rank
      // + running sum with no single-partition exchange) — corpus-linear
      // plus one range shuffle of the rolled-up entity frame; q234 is the
      // df-cut passage probe (handled above with the re-derived queryMod)
      "q235_budget_selection" ->
        (() => graft.SparkEntry.queries("q235_budget_selection")(spark, sfDir)),
      "q236_lorenz_curve" ->
        (() => graft.SparkEntry.queries("q236_lorenz_curve")(spark, sfDir)),
      "q237_order_statistics" ->
        (() => graft.SparkEntry.queries("q237_order_statistics")(spark, sfDir)),
      // q238/q240 ride orderStatistics/giniGlobal (two-phase, no
      // single-partition exchange); q239 is the lorenz inverse readout;
      // q241 compares the two passage shortlists at the re-derived
      // queryMod (its oracle re-spells both probe chains at that modulus)
      "q238_conversion_lag" ->
        (() => graft.SparkEntry.queries("q238_conversion_lag")(spark, sfDir)),
      "q239_coverage_depth" ->
        (() => graft.SparkEntry.queries("q239_coverage_depth")(spark, sfDir)),
      "q240_gini_global" ->
        (() => graft.SparkEntry.queries("q240_gini_global")(spark, sfDir)),
      "q242_token_mass_lengths" ->
        (() => graft.SparkEntry.queries("q242_token_mass_lengths")(spark, sfDir)),
      "q241_cutoff_agreement" ->
        (() => graft.Queries35.cutoffAgreement(spark, sfDir, queryMod)),
      // wave 37: q244 is a map-side phase-explode + bounded-frame window;
      // q245/q246 ride globalIndex/globalRankCumsum (range shuffle, no
      // single-partition exchange); q247 is a map-side 288-digest
      // projection + 1-row grand total — all corpus-linear
      "q244_anneal_schedule" ->
        (() => graft.SparkEntry.queries("q244_anneal_schedule")(spark, sfDir)),
      "q245_length_batching" ->
        (() => graft.SparkEntry.queries("q245_length_batching")(spark, sfDir)),
      "q246_attention_cost" ->
        (() => graft.SparkEntry.queries("q246_attention_cost")(spark, sfDir)),
      "q247_reshard_stability" ->
        (() => graft.SparkEntry.queries("q247_reshard_stability")(spark, sfDir)),
      // wave 38: q248 is two manifest-sized aggregates + a |shards|-row
      // full-outer join; q250 is a ≤64-row band frame + 1-row scalar.
      // q249's oracle re-shingles the whole corpus into 16-byte hex
      // windows in DuckDB (list ops, ~hex-length per doc) — linear but
      // memory-heavy there; prove at 8× only, the q16 parity-class rule
      "q248_manifest_delta" ->
        (() => graft.SparkEntry.queries("q248_manifest_delta")(spark, sfDir)),
      "q249_asset_near_dup" ->
        (() => graft.SparkEntry.queries("q249_asset_near_dup")(spark, sfDir)),
      "q250_length_band_mix" ->
        (() => graft.SparkEntry.queries("q250_length_band_mix")(spark, sfDir)),
      // wave 39: groundedness rides the q130 BM25 probe (bounded queryMod
      // — the corpus-proportional sample rule); everything after the
      // pinned context is shortlist-sized span joins
      "q251_groundedness" ->
        (() => graft.Queries39.q251With(spark, sfDir, queryMod)),
      "q252_attribution" ->
        (() => graft.Queries39.q252With(spark, sfDir, queryMod)),
      // wave 40: q253/q254 are map-side integer assignments + a 1-row
      // grand total (64x fine — the oracle's recursive jump CTE is
      // corpus-linear at ~5 steps per doc); q255 rides the q130 bounded
      // queryMod like q251/q252
      "q253_jump_shard" ->
        (() => graft.SparkEntry.queries("q253_jump_shard")(spark, sfDir)),
      "q254_reshard_three" ->
        (() => graft.SparkEntry.queries("q254_reshard_three")(spark, sfDir)),
      "q255_groundedness_sweep" ->
        (() => graft.Queries40.q255With(spark, sfDir, queryMod)),
      // q249 bounded-slice spelling for the 64x proof (the q122
      // id-slice precedent): the ENGINE runs the full banded LSH over
      // the whole corpus and filters finished pairs to the slice; the
      // oracle shingles only the slice (pair generation is pairwise, so
      // slice-restricted pairs equal full pairs with both ends in it) —
      // the full-oracle spelling stays the 8x proof
      "q249_asset_near_dup_slice" ->
        (() => graft.Queries38.q249Sliced(spark, sfDir, 8L, 3L)),
      // wave 41: q256 is the q130 probe over the inline zipf remap (the
      // bounded-queryMod rule applies — its own corpus is already
      // long-tailed, which is the point); q257 is three map-side
      // assignments + a ≤3·64-row histogram
      "q256_bm25_zipf" ->
        (() => graft.Queries41.q256With(spark, sfDir, queryMod)),
      "q257_shard_balance" ->
        (() => graft.SparkEntry.queries("q257_shard_balance")(spark, sfDir)),
      // wave 42: exact-kNN routes over the bounded query sample (the q19
      // class) — 8x proof; 64x is the queries x corpus DuckDB grid, see
      // Registry.scale64OnlyExclusions
      "q258_matryoshka_overlap" ->
        (() => graft.Queries42.q258With(spark, sfDir, queryMod)),
      "q259_matryoshka_sweep" ->
        (() => graft.Queries42.q259With(spark, sfDir, queryMod)),
      // wave 43: regex projections + a 3-row domain rollup — corpus-linear
      // on both engines at any k
      "q260_url_canonical" ->
        (() => graft.SparkEntry.queries("q260_url_canonical")(spark, sfDir)),
      "q261_url_dedup_domains" ->
        (() => graft.SparkEntry.queries("q261_url_dedup_domains")(spark, sfDir)),
      // wave 44: the q14 banded candidates + a term equi-join — proven at
      // 8x; at 64x the DuckDB side's per-candidate list_intersect over
      // 320k shingle lists is the q249 memory class (see Registry)
      "q262_weighted_jaccard" ->
        (() => graft.SparkEntry.queries("q262_weighted_jaccard")(spark, sfDir)),
      // q262 bounded-slice spelling for 64x (the q249 precedent)
      "q262_weighted_jaccard_slice" ->
        (() => graft.Queries44.q262Sliced(spark, sfDir, 8L, 3L)),
      // wave 45: string-key jump assignment + balance — one md5 digest
      // and ~6 LCG steps per row, corpus-linear on both engines (the
      // q253/q257 class)
      "q263_jump_shard_str" ->
        (() => graft.SparkEntry.queries("q263_jump_shard_str")(spark, sfDir)),
      "q264_shard_balance_str" ->
        (() => graft.SparkEntry.queries("q264_shard_balance_str")(spark, sfDir)),
      "q269_reshard_three_str" ->
        (() => graft.SparkEntry.queries("q269_reshard_three_str")(spark, sfDir)),
      // wave 46: q265 rides the q251 bounded-queryMod groundedness chain
      // (same scale rule: 8x perturb, 64x zipf); q266 is the surrogate
      // helper itself — distinct + two-phase rank + join, corpus-linear
      "q265_groundedness_str_id" ->
        (() => graft.Queries46.q265With(spark, sfDir, queryMod)),
      "q266_surrogate_ids" ->
        (() => graft.SparkEntry.queries("q266_surrogate_ids")(spark, sfDir)),
      // q267: the IVF-route matryoshka audit — unlike q258/q259's exact
      // grids, the oracle scan is bucket-restricted (nprobe 3 of 10), so
      // the DuckDB side stays ~queries x 0.3 corpus and runs at 64x too
      "q267_matryoshka_ivf" ->
        (() => graft.Queries42.q267With(spark, sfDir, queryMod)),
      // q268: multiset-faithful weighted-MinHash banding — full oracle at
      // 8x; at 64x the DuckDB list_intersect over 320k expanded lists is
      // the q262 memory class, so the bounded id-slice spelling proves it
      "q268_weighted_minhash_lsh" ->
        (() => graft.SparkEntry.queries("q268_weighted_minhash_lsh")(spark, sfDir)),
      "q268_weighted_minhash_lsh_slice" ->
        (() => graft.Queries44.q268Sliced(spark, sfDir, 8L, 3L)),
      // wave 47: PSL wildcard/exception fixture + host-escape
      // canonicalization — regex/list projections and a bounded domain
      // rollup, corpus-linear on both engines at any k (the q260 class)
      "q270_psl_domains" ->
        (() => graft.SparkEntry.queries("q270_psl_domains")(spark, sfDir)),
      "q271_psl_rollup" ->
        (() => graft.SparkEntry.queries("q271_psl_rollup")(spark, sfDir)),
      "q272_host_escapes" ->
        (() => graft.SparkEntry.queries("q272_host_escapes")(spark, sfDir)))

  /** Oracle SQL for [[queryMap]], same keys. */
  def oracleMap(planes: Array[Array[Double]], bits: Int, docBits: Int,
      queryMod: Long): Map[String, String] = Map(
      "q83_pipeline_golden" -> graft.Queries6.q83SqlWith(planes, bits),
      "q104_canonical_dedup" -> graft.Queries8.q104SqlWith(planes, bits),
      "q31_kmeans" -> graft.SparkEntry.oracleSql("q31_kmeans"),
      "q106_decon_apply" -> graft.SparkEntry.oracleSql("q106_decon_apply"),
      "q113_selection_capstone" ->
        graft.SparkEntry.oracleSql("q113_selection_capstone"),
      "q115_semantic_dedup" -> graft.SparkEntry.oracleSql("q115_semantic_dedup"),
      "q117_semantic_thinning_report" ->
        graft.SparkEntry.oracleSql("q117_semantic_thinning_report"),
      "q119_crossdoc_span_dedup" ->
        graft.SparkEntry.oracleSql("q119_crossdoc_span_dedup"),
      "q120_bpe_merges" -> graft.SparkEntry.oracleSql("q120_bpe_merges"),
      "q121_bpe_compression" ->
        graft.SparkEntry.oracleSql("q121_bpe_compression"),
      "q122_ivf_recall" -> graft.SparkEntry.oracleSql("q122_ivf_recall"),
      "q123_bigram_predictability" ->
        graft.SparkEntry.oracleSql("q123_bigram_predictability"),
      "q124_semantic_decon" -> graft.Queries10.q124SqlWith(planes, bits),
      "q125_bpe_segment_new" ->
        graft.SparkEntry.oracleSql("q125_bpe_segment_new"),
      "q126_tokenizer_fertility" ->
        graft.SparkEntry.oracleSql("q126_tokenizer_fertility"),
      "q127_span_leak_audit" ->
        graft.SparkEntry.oracleSql("q127_span_leak_audit"),
      "q128_trigram_backoff" ->
        graft.SparkEntry.oracleSql("q128_trigram_backoff"),
      "q129_packing_efficiency" ->
        graft.SparkEntry.oracleSql("q129_packing_efficiency"),
      "q130_bm25" -> graft.Queries11.q130SqlWith(queryMod),
      "q131_hybrid_rrf" -> graft.SparkEntry.oracleSql("q131_hybrid_rrf"),
      "q132_hard_negatives" -> graft.SparkEntry.oracleSql("q132_hard_negatives"),
      "q133_knn_pagerank" -> graft.SparkEntry.oracleSql("q133_knn_pagerank"),
      "q134_prf_expansion" -> graft.SparkEntry.oracleSql("q134_prf_expansion"),
      "q135_retrieval_ndcg" -> graft.SparkEntry.oracleSql("q135_retrieval_ndcg"),
      "q136_label_propagation" ->
        graft.SparkEntry.oracleSql("q136_label_propagation"),
      "q137_expanded_bm25" -> graft.SparkEntry.oracleSql("q137_expanded_bm25"),
      "q138_route_ab" -> graft.SparkEntry.oracleSql("q138_route_ab"),
      "q139_norm_outliers" -> graft.SparkEntry.oracleSql("q139_norm_outliers"),
      "q140_release_psi" -> graft.SparkEntry.oracleSql("q140_release_psi"),
      "q141_sentence_chunks" -> graft.SparkEntry.oracleSql("q141_sentence_chunks"),
      "q142_passage_retrieval" -> {
        val ctes = graft.Queries12.passageScoreCtes(None, queryMod)
        s"""WITH $ctes,
           |rk AS (SELECT q_id, passage_id, score_e6,
           |    row_number() OVER (PARTITION BY q_id
           |                       ORDER BY score_e6 DESC, passage_id) AS rank
           |  FROM sc)
           |SELECT q_id, passage_id, (passage_id // 10000)::BIGINT AS doc_id,
           |  score_e6, rank::BIGINT AS rank
           |FROM rk WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      },
      "q234_bm25_df_cutoff" -> {
        val ctes = graft.Queries12.passageScoreCtes(Some(300000L), queryMod)
        s"""WITH $ctes,
           |rk AS (SELECT q_id, passage_id, score_e6,
           |    row_number() OVER (PARTITION BY q_id
           |                       ORDER BY score_e6 DESC, passage_id) AS rank
           |  FROM sc)
           |SELECT q_id, passage_id, (passage_id // 10000)::BIGINT AS doc_id,
           |  score_e6, rank::BIGINT AS rank
           |FROM rk WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      },
      "q143_passage_context" ->
        graft.Queries12.q143SqlWith(None, queryMod),
      "q243_passage_context_cut" ->
        graft.Queries12.q143SqlWith(Some(300000L), queryMod),
      "q144_multimodal_packing" ->
        graft.SparkEntry.oracleSql("q144_multimodal_packing"),
      "q145_sft_render" -> graft.SparkEntry.oracleSql("q145_sft_render"),
      "q146_needle_depth" -> graft.SparkEntry.oracleSql("q146_needle_depth"),
      "q147_preference_pairs" ->
        graft.SparkEntry.oracleSql("q147_preference_pairs"),
      "q148_vocab_prune" -> graft.SparkEntry.oracleSql("q148_vocab_prune"),
      "q149_prune_impact" -> graft.SparkEntry.oracleSql("q149_prune_impact"),
      "q150_pq_codebook" -> graft.SparkEntry.oracleSql("q150_pq_codebook"),
      "q151_pq_adc_topk" -> graft.SparkEntry.oracleSql("q151_pq_adc_topk"),
      "q152_pq_recall" -> graft.SparkEntry.oracleSql("q152_pq_recall"),
      "q153_pass_at_k" -> graft.SparkEntry.oracleSql("q153_pass_at_k"),
      "q154_prefix_cache" -> graft.SparkEntry.oracleSql("q154_prefix_cache"),
      "q155_best_of_n" -> graft.SparkEntry.oracleSql("q155_best_of_n"),
      "q156_doremi_weights" ->
        graft.SparkEntry.oracleSql("q156_doremi_weights"),
      "q157_bitext_mining" -> graft.SparkEntry.oracleSql("q157_bitext_mining"),
      "q158_unigram_segment" ->
        graft.SparkEntry.oracleSql("q158_unigram_segment"),
      "q159_fim" -> graft.SparkEntry.oracleSql("q159_fim"),
      "q160_span_corrupt" -> graft.SparkEntry.oracleSql("q160_span_corrupt"),
      "q161_diversity" -> graft.SparkEntry.oracleSql("q161_diversity"),
      "q162_novelty" -> graft.SparkEntry.oracleSql("q162_novelty"),
      "q163_bradley_terry" ->
        graft.SparkEntry.oracleSql("q163_bradley_terry"),
      "q164_bitext_clean" -> graft.SparkEntry.oracleSql("q164_bitext_clean"),
      "q165_sign_test" -> graft.SparkEntry.oracleSql("q165_sign_test"),
      "q166_block_reuse" -> graft.SparkEntry.oracleSql("q166_block_reuse"),
      "q167_self_consistency" ->
        graft.SparkEntry.oracleSql("q167_self_consistency"),
      "q168_ece" -> graft.SparkEntry.oracleSql("q168_ece"),
      "q169_fleiss_kappa" -> graft.SparkEntry.oracleSql("q169_fleiss_kappa"),
      "q170_spec_decode" -> graft.SparkEntry.oracleSql("q170_spec_decode"),
      "q171_edit_confirm" -> graft.Queries17.q171SqlWith(docBits),
      "q172_cms_heavy_hitters" ->
        graft.SparkEntry.oracleSql("q172_cms_heavy_hitters"),
      "q173_hll_cardinality" ->
        graft.SparkEntry.oracleSql("q173_hll_cardinality"),
      "q174_grpo_advantage" -> graft.SparkEntry.oracleSql("q174_grpo_advantage"),
      "q175_coverage_budget" -> graft.SparkEntry.oracleSql("q175_coverage_budget"),
      "q176_trimmed_eval" -> graft.SparkEntry.oracleSql("q176_trimmed_eval"),
      "q177_kmv_distinct" -> graft.SparkEntry.oracleSql("q177_kmv_distinct"),
      "q178_source_overlap" -> graft.SparkEntry.oracleSql("q178_source_overlap"),
      "q179_hist_quantiles" -> graft.SparkEntry.oracleSql("q179_hist_quantiles"),
      "q180_cross_source_dups" ->
        graft.SparkEntry.oracleSql("q180_cross_source_dups"),
      "q181_power_iteration" ->
        graft.SparkEntry.oracleSql("q181_power_iteration"),
      "q182_triangle_stats" -> graft.Queries20.q182SqlWith(planes, bits),
      "q183_priority_sample" ->
        graft.SparkEntry.oracleSql("q183_priority_sample"),
      "q184_k_anonymity" -> graft.SparkEntry.oracleSql("q184_k_anonymity"),
      "q185_hll_merge" -> graft.SparkEntry.oracleSql("q185_hll_merge"),
      "q186_all_but_top" -> graft.SparkEntry.oracleSql("q186_all_but_top"),
      "q187_collocations" -> graft.SparkEntry.oracleSql("q187_collocations"),
      "q188_cluster_folds" -> graft.SparkEntry.oracleSql("q188_cluster_folds"),
      "q189_threshold_calibration" ->
        graft.SparkEntry.oracleSql("q189_threshold_calibration"),
      "q190_k_core" -> graft.Queries21.q190SqlWith(planes, bits),
      "q191_shuffle_quality" ->
        graft.SparkEntry.oracleSql("q191_shuffle_quality"),
      "q192_burst_detection" ->
        graft.SparkEntry.oracleSql("q192_burst_detection"),
      "q193_label_separation" ->
        graft.SparkEntry.oracleSql("q193_label_separation"),
      "q194_containment_dups" ->
        graft.SparkEntry.oracleSql("q194_containment_dups"),
      "q195_mutual_knn" -> graft.Queries23.q195SqlWith(planes, bits),
      "q196_decon_tiers" -> graft.SparkEntry.oracleSql("q196_decon_tiers"),
      "q197_span_positions" ->
        graft.SparkEntry.oracleSql("q197_span_positions"),
      "q198_dedup_venn" -> graft.SparkEntry.oracleSql("q198_dedup_venn"),
      "q199_greedy_coverage" ->
        graft.SparkEntry.oracleSql("q199_greedy_coverage"),
      "q200_release_datasheet" ->
        graft.SparkEntry.oracleSql("q200_release_datasheet"),
      "q201_cohort_retention" ->
        graft.SparkEntry.oracleSql("q201_cohort_retention"),
      "q202_forward_fill" -> graft.SparkEntry.oracleSql("q202_forward_fill"),
      "q203_column_profile" ->
        graft.SparkEntry.oracleSql("q203_column_profile"),
      "q204_funnel_conversion" ->
        graft.SparkEntry.oracleSql("q204_funnel_conversion"),
      "q205_personalized_pr" ->
        graft.SparkEntry.oracleSql("q205_personalized_pr"),
      "q206_rfm_segments" -> graft.SparkEntry.oracleSql("q206_rfm_segments"),
      "q207_assoc_rules" -> graft.SparkEntry.oracleSql("q207_assoc_rules"),
      "q208_markov_transitions" ->
        graft.SparkEntry.oracleSql("q208_markov_transitions"),
      "q209_last_touch" -> graft.SparkEntry.oracleSql("q209_last_touch"),
      "q210_scd2_dimension" ->
        graft.SparkEntry.oracleSql("q210_scd2_dimension"),
      "q211_benford" -> graft.SparkEntry.oracleSql("q211_benford"),
      "q212_gini_concentration" ->
        graft.SparkEntry.oracleSql("q212_gini_concentration"),
      "q213_decay_score" -> graft.SparkEntry.oracleSql("q213_decay_score"),
      "q214_session_paths" ->
        graft.SparkEntry.oracleSql("q214_session_paths"),
      "q215_linear_attribution" ->
        graft.SparkEntry.oracleSql("q215_linear_attribution"),
      "q216_abc_parts" -> graft.SparkEntry.oracleSql("q216_abc_parts"),
      "q217_weekday_profile" ->
        graft.SparkEntry.oracleSql("q217_weekday_profile"),
      "q218_reconcile" -> graft.SparkEntry.oracleSql("q218_reconcile"),
      "q219_purchase_intervals" ->
        graft.SparkEntry.oracleSql("q219_purchase_intervals"),
      "q220_lateness_profile" ->
        graft.SparkEntry.oracleSql("q220_lateness_profile"),
      "q221_template_floods" ->
        graft.SparkEntry.oracleSql("q221_template_floods"),
      "q222_provenance_manifest" ->
        graft.SparkEntry.oracleSql("q222_provenance_manifest"),
      "q223_position_bias" ->
        graft.SparkEntry.oracleSql("q223_position_bias"),
      "q224_nucleus_vocab" ->
        graft.SparkEntry.oracleSql("q224_nucleus_vocab"),
      "q225_vector_store_audit" ->
        graft.SparkEntry.oracleSql("q225_vector_store_audit"),
      "q226_decile_mix" -> graft.SparkEntry.oracleSql("q226_decile_mix"),
      "q227_emerging_terms" ->
        graft.SparkEntry.oracleSql("q227_emerging_terms"),
      "q228_rerank_agreement" ->
        graft.SparkEntry.oracleSql("q228_rerank_agreement"),
      "q229_sampler_uniformity" ->
        graft.SparkEntry.oracleSql("q229_sampler_uniformity"),
      "q230_variance_allocation" ->
        graft.SparkEntry.oracleSql("q230_variance_allocation"),
      "q231_near_miss_pairs" -> graft.Queries33.q231SqlWith(docBits),
      "q232_dedup_roi" -> graft.SparkEntry.oracleSql("q232_dedup_roi"),
      "q233_join_amplification" ->
        graft.SparkEntry.oracleSql("q233_join_amplification"),
      "q235_budget_selection" ->
        graft.SparkEntry.oracleSql("q235_budget_selection"),
      "q236_lorenz_curve" ->
        graft.SparkEntry.oracleSql("q236_lorenz_curve"),
      "q237_order_statistics" ->
        graft.SparkEntry.oracleSql("q237_order_statistics"),
      "q238_conversion_lag" ->
        graft.SparkEntry.oracleSql("q238_conversion_lag"),
      "q239_coverage_depth" ->
        graft.SparkEntry.oracleSql("q239_coverage_depth"),
      "q240_gini_global" ->
        graft.SparkEntry.oracleSql("q240_gini_global"),
      "q241_cutoff_agreement" -> graft.Queries35.q241SqlWith(queryMod),
      "q242_token_mass_lengths" ->
        graft.SparkEntry.oracleSql("q242_token_mass_lengths"),
      "q244_anneal_schedule" ->
        graft.SparkEntry.oracleSql("q244_anneal_schedule"),
      "q245_length_batching" ->
        graft.SparkEntry.oracleSql("q245_length_batching"),
      "q246_attention_cost" ->
        graft.SparkEntry.oracleSql("q246_attention_cost"),
      "q247_reshard_stability" ->
        graft.SparkEntry.oracleSql("q247_reshard_stability"),
      "q248_manifest_delta" ->
        graft.SparkEntry.oracleSql("q248_manifest_delta"),
      "q249_asset_near_dup" ->
        graft.SparkEntry.oracleSql("q249_asset_near_dup"),
      "q250_length_band_mix" ->
        graft.SparkEntry.oracleSql("q250_length_band_mix"),
      "q251_groundedness" -> graft.Queries39.q251SqlWith(queryMod),
      "q252_attribution" -> graft.Queries39.q252SqlWith(queryMod),
      "q253_jump_shard" ->
        graft.SparkEntry.oracleSql("q253_jump_shard"),
      "q254_reshard_three" ->
        graft.SparkEntry.oracleSql("q254_reshard_three"),
      "q255_groundedness_sweep" -> graft.Queries40.q255SqlWith(queryMod),
      "q249_asset_near_dup_slice" -> graft.Queries38.q249SqlSliced(8L, 3L),
      "q256_bm25_zipf" -> graft.Queries41.q256SqlWith(queryMod),
      "q257_shard_balance" ->
        graft.SparkEntry.oracleSql("q257_shard_balance"),
      "q258_matryoshka_overlap" -> graft.Queries42.q258SqlWith(queryMod),
      "q259_matryoshka_sweep" -> graft.Queries42.q259SqlWith(queryMod),
      "q260_url_canonical" ->
        graft.SparkEntry.oracleSql("q260_url_canonical"),
      "q261_url_dedup_domains" ->
        graft.SparkEntry.oracleSql("q261_url_dedup_domains"),
      "q262_weighted_jaccard" ->
        graft.SparkEntry.oracleSql("q262_weighted_jaccard"),
      "q262_weighted_jaccard_slice" -> graft.Queries44.q262SqlSliced(8L, 3L),
      "q263_jump_shard_str" ->
        graft.SparkEntry.oracleSql("q263_jump_shard_str"),
      "q264_shard_balance_str" ->
        graft.SparkEntry.oracleSql("q264_shard_balance_str"),
      "q269_reshard_three_str" ->
        graft.SparkEntry.oracleSql("q269_reshard_three_str"),
      "q265_groundedness_str_id" -> graft.Queries46.q265SqlWith(queryMod),
      "q266_surrogate_ids" ->
        graft.SparkEntry.oracleSql("q266_surrogate_ids"),
      "q267_matryoshka_ivf" -> graft.Queries42.q267SqlWith(queryMod),
      "q268_weighted_minhash_lsh" ->
        graft.SparkEntry.oracleSql("q268_weighted_minhash_lsh"),
      "q268_weighted_minhash_lsh_slice" -> graft.Queries44.q268SqlSliced(8L, 3L),
      "q270_psl_domains" -> graft.SparkEntry.oracleSql("q270_psl_domains"),
      "q271_psl_rollup" -> graft.SparkEntry.oracleSql("q271_psl_rollup"),
      "q272_host_escapes" -> graft.SparkEntry.oracleSql("q272_host_escapes"))
}
