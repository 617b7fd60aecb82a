package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFns, TextFns}

/** Deduplication operators — the training-data-pipeline extension family
  * (exact, MinHash+LSH, SimHash), generalizing the reference's ingest-time
  * dict dedup (reference: REDDIT-Ingestion.py:102,116,124 keys a dict by
  * post id; our engine dedups by content, not just id).
  *
  * Scale design: every variant shuffles *fingerprints* (16-64 bytes), never
  * document bodies; candidate generation is always blocked (LSH bands /
  * hash buckets) so no O(n²) pair explosion reaches the 100 TB path.
  */
object Dedup {

  /** Whitespace-collapsed, lowercased, trimmed text — the normalization
    * every fingerprint is computed over. */
  def normalized(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Exact dedup groups: md5 of normalized text → (fingerprint, smallest
    * member id, group size). One hash shuffle on a 32-char key; at 100 TB
    * the shuffle carries fingerprints, not documents. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), HashFns.md5Hex(normalized(col(textCol))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash+LSH near-duplicate pairs over word-bigram shingles:
    * shingle → `numHashes`-long MinHash signature → `bands` band signatures
    * → candidates = pairs sharing any band bucket → exact Jaccard verify at
    * `threshold`. The band join is the scale path: candidate generation is
    * an equi-join on (band, signature), so only near-dup pairs are ever
    * materialized — never the full cross product.
    *
    * The shingle table is materialized once (lazy local checkpoint) and
    * read four times — both sides of the band self-join and both sides of
    * the verify join. In-plan, each of those branches would re-scan the
    * corpus and re-run the shingle kernel (Catalyst shares no subtrees
    * across join branches, and AQE's exchange reuse does not fire across
    * the differently-keyed shuffles), quadrupling the dominant
    * tokenization cost.
    *
    * Checkpoint lifetime (applies to every lazy-localCheckpoint operator
    * in this codebase — topVocab's counts, q98's wordCounts, q113's span
    * base, Pq's points): the returned frame is LAZY, so the
    * operator cannot unpersist after "the" consuming action — it never
    * runs one, and the caller may run several. The blocks are freed when
    * the plan's RDD is garbage-collected (Spark's ContextCleaner) or the
    * session ends; a long-lived session hammering one operator in a loop
    * can bound storage sooner by calling
    * `df.queryExecution.toRdd` → action → `unpersist` itself. Per-query
    * drivers (Verify/Bench, one session per run) never accumulate enough
    * for this to matter. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    minHashLshPairsOn(df, idCol,
      graft.expr.TextExprs.wordShingles(col(textCol), 2),
      numHashes, bands, threshold)

  /** [[minHashLshPairs]] over a CALLER-SUPPLIED shingle array column — the
    * modality-agnostic core: any representation that reduces a row to a
    * distinct string set (word bigrams, byte k-grams of a binary asset —
    * [[Multimodal.assetNearDup]], char n-grams) rides the same banded
    * candidate generation and exact-Jaccard verify. `shingles` must be
    * `array<string>` with DISTINCT elements in SORTED (binary UTF8)
    * order — Jaccard is over sets (a multiset inflates signatures and
    * verify) and the verify kernel is a sorted-merge intersection
    * ([[graft.expr.ShingleKernels.sortedJaccard]]) that silently
    * undercounts on unsorted input. */
  def minHashLshPairsOn(df: DataFrame, idCol: String, shingles: Column,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val rows = numHashes / bands
    val sh = df.select(col(idCol).as("id"), shingles.as("sh"))
      .localCheckpoint(false)
    // fused kernel: md5 + k permutations + band keys in one pass per row
    // (the pure-builtin spelling, kept in Reference, pays ~25 interpreted
    // HOF calls per shingle — see graft.expr.MinHashBandKeys). Shingle
    // arrays are DISTINCT sets by contract, so their sizes feed the exact
    // size-ratio cut of bandCandidates (inert at weightedJaccardPairs'
    // threshold 0).
    val cand = bandCandidates(sh.select(col("id"),
        size(col("sh")).cast("long").as("w"),
        posexplode(graft.expr.HashExprs.minHashBandKeys(
          col("sh"), HashFns.minHashCoeffs(numHashes), bands))
          .as(Seq("band", "bsig"))), Some(threshold))
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cand.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
      .withColumn("jaccard",
        round(graft.expr.TextExprs.sortedJaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The MinHash band self-join every banded op here shares: `banded`
    * holds one (`id`, `band`, `bsig`) row per document and band, and the
    * candidates are the distinct pairs (`id_a` < `id_b`) that share any
    * band signature — an equi-join on (band, signature), never the cross
    * product.
    *
    * With a `threshold`, `banded` also carries each document's set size
    * `w`, and the join condition drops pairs whose sizes are farther
    * apart than the threshold ratio (the length filter of exact
    * set-similarity joins, Xiao et al.): |A∩B| ≤ min(w) and
    * |A∪B| ≥ max(w), so J ≤ min(w)/max(w), and such a pair provably
    * cannot reach the output. The size rides the banded rows (+8 bytes)
    * and the cut runs INSIDE the join condition, so failing pairs never
    * reach the pair dedup or the verify join that attaches the two sets —
    * the widest rows of each op (the GC pressure point measured at 64×).
    * The cut uses threshold − 1e-6: the verify passes round(J, 6) ≥
    * threshold, i.e. J ≥ threshold − 5e-7 at the rounding boundary, and
    * the extra 5e-7 slack makes FP evaluation of the cut incapable of
    * dropping a boundary pair (double error ≪ 5e-7). threshold = 0 leaves
    * the cut inert, since sizes are non-negative. */
  private def bandCandidates(banded: DataFrame,
      threshold: Option[Double]): DataFrame = {
    val sizeCut = threshold.fold(lit(true))(t =>
      least(col("a.w"), col("b.w")).cast("double")
        >= lit(t - 1e-6) * greatest(col("a.w"), col("b.w")).cast("double"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.id") < col("b.id") && sizeCut)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** TF-WEIGHTED (multiset) Jaccard refinement of the banded near-dup
    * candidates: per pair,
    * `J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b)` over unigram term
    * frequencies, with `Σmax = len_a + len_b − Σmin` so only the INNER
    * term join is ever computed. Set-Jaccard ([[minHashLshPairs]]) sees
    * "spam spam spam spam" and "spam" as identical; the weighted measure
    * sees repetition MASS — the standard refinement for templated /
    * boilerplate near-dups, and integer-exact (ppm) so it hash-compares.
    *
    * Candidates come from the q14 shingle banding (SET semantics), so
    * recall targets set-Jaccard: a pair with high J_w but low shingle
    * overlap (e.g. heavy token reordering) is out of candidate reach BY
    * DESIGN — banding on a multiset-faithful key would need weighted
    * MinHash (ICWS), whose gamma draws are not portable to the integer
    * oracle. Output: (id_a, id_b, jaccard_set, inter_tf, wj_ppm) for
    * pairs with `wj_ppm >= thresholdPpm` — both metrics side by side, so
    * the set-vs-weighted divergence is visible per pair.
    *
    * Row-drop semantics (ADVICE r15, documented rather than papered
    * over): a candidate endpoint that tokenizes to ZERO terms (possible —
    * the shingle kernel's <2-token fallback gives even an empty document
    * a band signature) has no row in the per-doc length frame, so the
    * inner length join DROPS such pairs instead of emitting wj_ppm = 0.
    * A no-term document has no weighted mass to compare; the oracle
    * inner-joins identically, so both engines agree.
    *
    * Scale shape: the banded candidate join (q14's), one tf aggregation
    * of the corpus (pinned — it feeds BOTH sides of the term join), and
    * a candidates×terms inner equi-join that touches only candidate
    * pairs' terms. No new corpus passes beyond q14's. */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, thresholdPpm: Long): DataFrame = {
    require(thresholdPpm >= 0, s"thresholdPpm must be >= 0, got $thresholdPpm")
    val cands = minHashLshPairs(df, idCol, textCol, numHashes, bands, 0.0)
    val tf = df.select(col(idCol).as("id"),
        explode(array_remove(
          graft.functions.TextFns.wordTokens(col(textCol)), "")).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // feeds lens AND both term-join sides
    val lens = tf.groupBy(col("id")).agg(sum(col("tf")).as("len"))
    val inter = cands.select(col("id_a"), col("id_b"))
      .join(tf.select(col("id").as("id_a"), col("term"),
        col("tf").as("__ta")), Seq("id_a"))
      .join(tf.select(col("id").as("id_b"), col("term"),
        col("tf").as("__tb")), Seq("id_b", "term"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("__ta"), col("__tb"))).as("inter_tf"))
    cands
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(lens.select(col("id").as("id_a"), col("len").as("__la")),
        Seq("id_a"))
      .join(lens.select(col("id").as("id_b"), col("len").as("__lb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        col("jaccard").as("jaccard_set"),
        coalesce(col("inter_tf"), lit(0L)).as("inter_tf"),
        expr("""CASE WHEN __la + __lb - coalesce(inter_tf, 0L) <= 0L THEN 0L
               |     ELSE coalesce(inter_tf, 0L) * 1000000L
               |          div (__la + __lb - coalesce(inter_tf, 0L))
               |END""".stripMargin).cast("long").as("wj_ppm"))
      .filter(col("wj_ppm") >= thresholdPpm)
  }

  /** WEIGHTED-MinHash near-dup pairs with MULTISET-faithful banding — the
    * r15 verdict's ICWS exploration, landed via the integer-exact
    * reduction instead of gamma draws: each term with frequency f expands
    * to the shingles `term#1 … term#min(f, tfCap)`, and set Jaccard over
    * the expanded sets IS the tf-capped weighted Jaccard
    * (`term#k ∈ A∩B ⇔ k ≤ min(tf_a, tf_b)`, so |A∩B| = Σmin and
    * |A∪B| = Σmax exactly). Ordinary MinHash banding over the expansion
    * therefore samples the WEIGHTED measure — repetition-mass near-dups
    * (template floods, boilerplate stuffing) reach the candidate stage,
    * which [[weightedJaccardPairs]]'s set-semantic bigram banding cannot
    * do by design. This is the classic integer-weight CWS reduction
    * (Charikar-style repeat encoding); true ICWS (Ioffe 2010) generalizes
    * it to REAL weights via per-term gamma draws, which have no portable
    * integer oracle spelling — rejected for the correctness gate, see
    * BASELINE.md round 15/16. `tfCap` bounds the expansion (a 10k-repeat
    * token would otherwise dominate every signature AND the shingle
    * array width); weights above the cap saturate, which is standard
    * quantized-CWS practice.
    *
    * The expansion is ORDER-INSENSITIVE (unigram multiset): a token
    * reordering with repetition shifts keeps the exact same expanded
    * set, hence identical signatures — the recall gap q262 documents.
    * Verify is exact tf-capped weighted Jaccard, 6dp-rounded like q14.
    * Docs with ZERO non-empty tokens have no expansion and are not
    * candidates (nothing weighted to compare — unlike the bigram path's
    * <2-token fallback shingle).
    *
    * COMPACT spelling (r17, replacing the r16 expanded-array one, which
    * Wave44Spec keeps as its equivalence reference): the
    * `term#k` repeat expansion never materializes as an array anywhere.
    * The per-doc unit is a COMPACT tf vector
    * (`array<struct<term, tfc>>`, one entry per DISTINCT term, sorted —
    * up to tfCap× narrower than the expansion); band keys come from a
    * fused kernel that hashes the virtual shingles incrementally off the
    * vector ([[graft.expr.HashKernels.weightedMinHashBandKeys]],
    * byte-identical digests to hashing the materialized expansion), and
    * verify computes |A∩B| = Σ_t min(tfc_a, tfc_b),
    * |A∪B| = mass_a + mass_b − |A∩B| in one fused merge walk
    * ([[graft.expr.ShingleKernels.sortedWeightedJaccard]]) — the
    * identities that make the expanded set Jaccard exactly computable
    * from the capped tf vectors alone. Same candidates (same min
    * tuples), same jaccard doubles (same integer |∩|/|∪| pairs), so the
    * oracle SQL is unchanged; what changes is the row width through the
    * checkpoint, the banding, and the verify join — the expanded arrays
    * GC-thrashed the 64× verify at default shuffle partitions until the
    * r16 partition override (BASELINE.md round 16, task 5). Rejected
    * intermediate (measured, BASELINE.md round-17 record): verifying via
    * a candidates×terms equi-join keeps every shuffle fingerprint-width
    * but explodes 2.5M candidates × avg terms/doc through the pair-key
    * shuffle — 2.9× slower than
    * the array spelling at sf0.1; the compact-vector join carries ~23
    * struct entries per side instead and stays at array-spelling speed.
    *
    * Scale shape: one tf aggregation, one per-doc vector aggregation
    * (both fingerprint-width shuffles), the banded equi-join, then a
    * verify join whose widest column is one struct entry per distinct
    * term — never the pair cross product, never a repeat-expanded row. */
  def weightedMinHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      tfCap: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    require(tfCap >= 1, s"tfCap must be >= 1, got $tfCap")
    // compact per-doc tf vector: ONE entry per distinct term, sorted by
    // term (sort_array on array<struct> orders by the first field; terms
    // are distinct per doc so the tfc field never decides), then split
    // into PARALLEL (terms, tfcs) arrays so the kernels' element access
    // is allocation-free (getStruct would build an UnsafeRow per element
    // × candidates × terms). Pinned: feeds the banding AND both
    // verify-join sides.
    val compact = df.select(col(idCol).as("id"),
        explode(array_remove(
          TextFns.wordTokens(col(textCol)), "")).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(least(count(lit(1)), lit(tfCap.toLong)).as("tfc"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("term"), col("tfc"))))
        .as("tv"),
        sum(col("tfc")).as("mass"))
      .select(col("id"),
        transform(col("tv"), e => e.getField("term")).as("terms"),
        transform(col("tv"), e => e.getField("tfc")).as("tfcs"),
        col("mass"))
      .localCheckpoint(false)
    // the expanded set's size is the capped tf mass, so the mass feeds
    // bandCandidates' exact size-ratio cut
    bandCandidates(compact.select(col("id"), col("mass").as("w"),
        posexplode(graft.expr.HashExprs.weightedMinHashBandKeys(
          col("terms"), col("tfcs"), HashFns.minHashCoeffs(numHashes), bands))
          .as(Seq("band", "bsig"))), Some(threshold))
      .join(compact.select(col("id").as("id_a"), col("terms").as("__ta"),
        col("tfcs").as("__ca")), Seq("id_a"))
      .join(compact.select(col("id").as("id_b"), col("terms").as("__tb"),
        col("tfcs").as("__cb")), Seq("id_b"))
      .withColumn("jaccard", round(
        graft.expr.TextExprs.sortedWeightedJaccard(
          col("__ta"), col("__ca"), col("__tb"), col("__cb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs — the quote-inclusion case
    * symmetric Jaccard misses: a short document fully embedded in a long
    * one has tiny Jaccard (|A∩B|/|A∪B| ≈ |A|/|B|) but containment
    * |A∩B|/|A| ≈ 1. Same banded MinHash candidate generation as
    * [[minHashLshPairs]] (equi-join on band signatures, never all
    * pairs); the verify step computes BOTH directions in integer ppm
    * and keeps pairs where either side's containment clears the
    * threshold. Output: (id_a, id_b, n_inter, n_a, n_b, cont_a_ppm,
    * cont_b_ppm).
    *
    * Caveat shared with all MinHash blocking: one-sided containment of
    * a SMALL set in a large one depresses the Jaccard the band
    * signatures sample, so recall for extreme length ratios needs more
    * bands — the knob is exposed, the trade-off documented here rather
    * than hidden. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, minContainmentPpm: Long): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val sh = df.select(col(idCol).as("id"),
      graft.expr.TextExprs.wordShingles(col(textCol), 2).as("sh"))
      .localCheckpoint(false)
    val cand = bandCandidates(sh.select(col("id"),
        posexplode(graft.expr.HashExprs.minHashBandKeys(
          col("sh"), HashFns.minHashCoeffs(numHashes), bands))
          .as(Seq("band", "bsig"))), None)
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cand.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("n_inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .withColumn("cont_a_ppm", expr("n_inter * 1000000L div n_a"))
      .withColumn("cont_b_ppm", expr("n_inter * 1000000L div n_b"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm"))
        >= minContainmentPpm)
  }

  /** Oracle-checkable SimHash variant: 32-bit fingerprints over md5-prefix
    * token hashes (the same md5→integer bridge the MinHash oracle uses, so
    * DuckDB can recompute it bit for bit), so the hash-compare gate covers
    * SimHash semantics end to end. The per-bit vote runs in the fused
    * [[graft.expr.SimHashMd5]] kernel. */
  def simHashFingerprintsMd5(df: DataFrame, idCol: String, textCol: String,
      prefixBits: Int = 8): DataFrame = {
    val toks = split(normalized(col(textCol)), " ")
    df.select(col(idCol),
        graft.expr.HashExprs.simHashMd5(toks).as("simhash"))
      .withColumn("bucket", shiftrightunsigned(col("simhash"), 32 - prefixBits))
  }

  /** N-gram Jaccard similarity for a bounded candidate set produced by any
    * blocking key (bucket column): pairs within a block, exact Jaccard.
    * `shCol` must hold SORTED-DISTINCT shingle arrays (what the shingle
    * kernels emit) — the pair verify uses the merge-walk kernel. */
  def jaccardWithinBlocks(df: DataFrame, idCol: String, shCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // IDENTICALLY-projected self-join sides: both shuffle the same subplan
    // on blk, so ReuseExchange computes the (expensive) shingling once and
    // the second side reads the first's shuffle files. Projecting each side
    // to renamed columns BEFORE the join makes the exchanges differ and
    // shingles every document twice.
    val s = df.select(col(blockCol).as("blk"), col(idCol).as("id"), col(shCol).as("sh"))
    s.as("a").join(s.as("b"), col("a.blk") === col("b.blk"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("jaccard",
        round(graft.expr.TextExprs.sortedJaccard(col("a.sh"), col("b.sh")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("jaccard"))
  }

  /** SimHash bucket resolution for a corpus of `n` documents: the number
    * of fingerprint prefix bits that keeps expected bucket occupancy near
    * `targetOccupancy` (buckets ≈ n / occupancy), clamped to [8, 24] of
    * the 32-bit fingerprint. The SimHash-family counterpart of
    * `Similarity.lshBitsFor`: candidate-pair work stays LINEAR in corpus
    * size only if the blocking resolution grows with it — a fixed 256
    * buckets at 64× the corpus is 4096× the pairs. */
  def simHashBitsFor(n: Long, targetOccupancy: Long = 20L): Int = {
    require(n >= 1 && targetOccupancy >= 1)
    val b = math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy))
      / math.log(2.0)).toInt
    math.min(24, math.max(8, b))
  }

  /** Edit-distance confirmation of blocked near-dup candidates — the
    * expensive exact stage a fuzzy-dedup pipeline runs LAST, after cheap
    * blocking (SimHash buckets, MinHash bands) has cut the pair space:
    * per candidate pair, the Levenshtein distance over ASCII-normalized
    * text and the normalized similarity
    * `sim_ppm = 1e6 − dist·1e6 div max(len_a, len_b)` (two empty strings
    * are identical → 1e6), plus the `keep` verdict at `minSimPpm`. The
    * whole candidate set is reported, not just survivors — the rejected
    * pairs are the audit trail that shows the blocking stage's false-
    * positive rate.
    *
    * Texts are normalized (lowercase, whitespace-collapsed) and stripped
    * to printable ASCII before the DP: Spark's `levenshtein` counts
    * CODEPOINTS while DuckDB's counts BYTES, so the ASCII restriction is
    * what makes the audit engine-exact (multi-byte text would diverge).
    *
    * Scale shape: the O(len²) DP runs ONLY on `pairs` — the caller's
    * blocking bounds it (q73's hamming gate keeps it linear-ish in corpus
    * size); the two text joins are equi-joins on the id. Never feed an
    * unblocked cross product here. */
  def editConfirmPairs(pairs: DataFrame, idACol: String, idBCol: String,
      texts: DataFrame, idCol: String, textCol: String,
      minSimPpm: Long): DataFrame = {
    val nt = texts.select(col(idCol).as("__id"),
      regexp_replace(normalized(col(textCol)), "[^\\x20-\\x7e]", "").as("__nt"))
    // Explicit-width repartition before the DP: the pair frame is BYTES-
    // small but COMPUTE-huge (O(len²) per row), and AQE's byte-based
    // partition coalescing would happily serialize millions of DP cells
    // onto a handful of tasks (observed: 7/32 cores busy at 8× scale).
    // An explicit partition count is exempt from AQE coalescing.
    val shuffleParts =
      pairs.sparkSession.sessionState.conf.numShufflePartitions
    pairs
      .join(nt.select(col("__id").as(idACol), col("__nt").as("__ta")), Seq(idACol))
      .join(nt.select(col("__id").as(idBCol), col("__nt").as("__tb")), Seq(idBCol))
      .repartition(shuffleParts, col(idACol), col(idBCol))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .withColumn("__mx",
        greatest(length(col("__ta")), length(col("__tb"))).cast("long"))
      .withColumn("sim_ppm",
        when(col("__mx") === 0L, lit(1000000L))
          .otherwise(expr("1000000L - dist * 1000000L div __mx")))
      .withColumn("keep", col("sim_ppm") >= minSimPpm)
      .select((pairs.columns.map(col) :+ col("dist") :+ col("sim_ppm")
        :+ col("keep")): _*)
  }

  /** Cross-source duplication matrix — the provenance audit that shows
    * which sources copy from which: per source pair (a < b), how many
    * DISTINCT fingerprints they share (caller-chosen column: full
    * normalized-text md5 for exact mirroring, a prefix fingerprint for
    * shared boilerplate), and the
    * containment each way (`shared·1e6 div |a|`, `… div |b|`) — the
    * asymmetric numbers that distinguish "b mirrors a" from "both quote a
    * third corpus". Output: (src_a, src_b, n_shared, n_a, n_b,
    * cont_a_ppm, cont_b_ppm).
    *
    * Scale shape: the corpus collapses to DISTINCT (source, fingerprint)
    * rows map-side; the pair join is an equi-join ON THE FINGERPRINT, so
    * only fingerprints shared by ≥ 2 sources ever pair, and the output is
    * bounded by |sources|². */
  def crossSourceDupMatrix(df: DataFrame, sourceCol: String,
      fingerprint: org.apache.spark.sql.Column): DataFrame = {
    val fp = df.select(col(sourceCol).as("__s"), fingerprint.as("__fp"))
      .distinct()
    val sizes = fp.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val shared = fp.as("a").join(fp.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.__s") < col("b.__s"))
      .groupBy(col("a.__s").as("src_a"), col("b.__s").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("__s").as("src_a"), col("__n").as("n_a")), Seq("src_a"))
      .join(sizes.select(col("__s").as("src_b"), col("__n").as("n_b")), Seq("src_b"))
      .withColumn("cont_a_ppm", expr("n_shared * 1000000L div n_a"))
      .withColumn("cont_b_ppm", expr("n_shared * 1000000L div n_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("cont_a_ppm"), col("cont_b_ppm"))
  }

  /** Template-flood report: documents collapsed to a TEMPLATE SKELETON —
    * lowercase, every digit run replaced by '0', whitespace collapsed —
    * so "Order #4512 shipped" and "order #7 shipped" land in one
    * skeleton. Per source: docs, distinct skeletons, the largest
    * skeleton cluster, and the ppm of docs sitting in clusters of
    * `minClusterSize`+ — the synthetic-flood / boilerplate canary that
    * exact dedup (different numbers ⇒ different md5) cannot see.
    *
    * Output: (sourceCol, n_docs, n_skeletons, max_cluster, flood_ppm).
    * Scale shape: one map-side md5 per doc, one (source, skeleton)
    * aggregate, one |sources|-row rollup. */
  def templateFloodReport(df: DataFrame, sourceCol: String,
      textCol: String, minClusterSize: Long): DataFrame = {
    require(minClusterSize >= 2)
    val skel = md5(regexp_replace(
      regexp_replace(lower(trim(col(textCol))), "[0-9]+", "0"),
      "\\s+", " "))
    df.select(col(sourceCol), skel.as("__sk"))
      .groupBy(col(sourceCol), col("__sk"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(sourceCol))
      .agg(sum(col("__n")).as("n_docs"),
        count(lit(1)).as("n_skeletons"),
        max(col("__n")).as("max_cluster"),
        sum(when(col("__n") >= minClusterSize, col("__n"))
          .otherwise(0L)).as("__flood"))
      .withColumn("flood_ppm", expr("__flood * 1000000L div n_docs"))
      .drop("__flood")
  }

  /** Provenance-union manifest for exact-dedup clusters: when canonical
    * dedup keeps one document per fingerprint, the release must carry the
    * UNION of the cluster's provenance (licensing follows the strictest
    * member, not the keeper's) — per duplicated fingerprint: the keeper,
    * the cluster size, and the sorted distinct source list with a
    * cross-source flag.
    *
    * Output: (fp, keep_id, n_dups, n_sources, sources, cross_source),
    * clusters of size ≥ 2 only (singletons have nothing to reconcile).
    * The cluster definition is the caller-chosen `fingerprint` (the
    * [[crossSourceDupMatrix]] convention): full normalized-text md5 for
    * exact clusters, a prefix fingerprint for boilerplate families.
    * Scale shape: the [[exactGroups]] aggregate with a bounded
    * sorted-collect of sources (|sources| is a dimension). */
  def provenanceManifest(df: DataFrame, idCol: String, sourceCol: String,
      fingerprint: org.apache.spark.sql.Column): DataFrame =
    df.select(fingerprint.as("fp"), col(idCol), col(sourceCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"),
        countDistinct(col(sourceCol)).as("n_sources"),
        array_join(array_sort(collect_set(col(sourceCol))), ",")
          .as("sources"))
      .filter(col("n_dups") >= 2L)
      .withColumn("cross_source",
        when(col("n_sources") > 1L, 1L).otherwise(0L))

  /** Near-miss pairs: SimHash-blocked candidate pairs whose hamming
    * distance lands in [hamLo, hamHi] — ABOVE the dedup verify band, so
    * the dedup pass rejected them, yet close enough to be informative —
    * labeled with the exact bigram Jaccard. This is the training set a
    * LEARNED dedup classifier needs: boundary cases with ground-truth
    * similarity, mined at LSH cost (same banded candidates as q73, a
    * different hamming slice).
    *
    * Output: (id_a, id_b, hamming, jaccard). Scale shape: the q73
    * bucket-blocked self-join (one shared fingerprint subplan — both
    * sides shuffle the identical projection, so ReuseExchange computes
    * the fingerprints once), then a shingle join over candidate rows
    * only; the shingle frame is lazily checkpointed (read twice). */
  def nearMissPairs(df: DataFrame, idCol: String, textCol: String,
      hamLo: Int, hamHi: Int, prefixBits: Int = 8): DataFrame = {
    require(hamLo >= 1 && hamLo <= hamHi && hamHi <= 32)
    val s = simHashFingerprintsMd5(df, idCol, textCol, prefixBits)
      .select(col("bucket"), col(idCol).as("id"), col("simhash"))
    val cand = s.as("a").join(s.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("hamming",
        expr("bit_count(a.simhash ^ b.simhash)").cast("long"))
      .filter(col("hamming") >= hamLo.toLong &&
        col("hamming") <= hamHi.toLong)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("hamming"))
    val sh = df.select(col(idCol).as("__sid"),
        graft.expr.TextExprs.wordShingles(col(textCol), 2).as("__sh"))
      .localCheckpoint(false)
    cand
      .join(sh.select(col("__sid").as("id_a"), col("__sh").as("__sha")),
        Seq("id_a"))
      .join(sh.select(col("__sid").as("id_b"), col("__sh").as("__shb")),
        Seq("id_b"))
      .withColumn("jaccard", round(
        graft.expr.TextExprs.sortedJaccard(col("__sha"), col("__shb")), 6))
      .select(col("id_a"), col("id_b"), col("hamming"), col("jaccard"))
  }

  /** Whole-document dedup ROI for one fingerprint tier: how many
    * documents AND how many tokens the tier would remove (keeper = min
    * id per fingerprint) — the cost/benefit row a dedup-policy review
    * compares across tiers of increasing aggression (exact md5 →
    * digit-folded skeleton → opening-prefix).
    *
    * Output: one row — (tier, n_docs, n_tokens, docs_removed,
    * tokens_removed, docs_ppm, tokens_ppm). Scale shape: one
    * fingerprint aggregate + one equi-join back; the fingerprint frame
    * is lazily checkpointed (two branches over the corpus md5). */
  def dedupRoi(df: DataFrame, idCol: String, textCol: String,
      tier: String, fingerprint: Column): DataFrame = {
    val base = df.select(col(idCol).as("__id"), fingerprint.as("__fp"),
        graft.functions.TextFns.tokenCount(col(textCol)).as("__tk"))
      .localCheckpoint(false)
    val keep = base.groupBy(col("__fp")).agg(min(col("__id")).as("__keep"))
    base.join(keep, Seq("__fp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"),
        sum(when(col("__id") =!= col("__keep"), 1L).otherwise(0L))
          .as("docs_removed"),
        sum(when(col("__id") =!= col("__keep"), col("__tk")).otherwise(0L))
          .as("tokens_removed"))
      .select(lit(tier).as("tier"), col("n_docs"), col("n_tokens"),
        col("docs_removed"), col("tokens_removed"),
        expr("docs_removed * 1000000L div n_docs").as("docs_ppm"),
        expr("tokens_removed * 1000000L div n_tokens").as("tokens_ppm"))
  }

  /** Paragraph-level first-occurrence dedup — the CCNet dedup mode (Wenzek
    * et al. 2020 §3): every distinct non-empty line keeps only its FIRST
    * corpus occurrence (smallest (id, position)); later occurrences —
    * including repeats inside the same document — are cut, and each
    * document is reassembled from its surviving lines in original order.
    * Empty lines pass through untouched (they are structure, not content).
    * Contrast [[Scrub.stripBoilerplateLines]]: that drops EVERY occurrence
    * of lines frequent across documents; this keeps exactly one globally.
    *
    * Output per input row: the id, `n_lines`, `n_kept`, `n_removed`,
    * `new_text` (empty string when nothing survives).
    *
    * Scale shape: one hash aggregation keyed by line computes each line's
    * first occurrence as a min(struct) — O(1) buffer per distinct line, no
    * window sort over the (possibly enormous) occurrence list of a viral
    * line. Survivor filtering is an equi-join back on the line key, and
    * reassembly is one per-document aggregation (array_sort over that
    * document's own kept lines only). Shuffles carry lines once each.
    */
  def paragraphDedupFirst(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos0", "line")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"), col("line"))
    val firstOcc = lines.filter(length(col("line")) > 0)
      .groupBy(col("line"))
      .agg(min(struct(col(idCol), col("pos"))).as("first_occ"))
    // LEFT join keeps every line row (empty lines find no winner key and
    // pass via the length=0 arm), so a single per-doc aggregation yields
    // totals, survivor count, and the reassembled text — the corpus is
    // scanned twice (winner agg + probe side), never four times.
    val flagged = lines.join(firstOcc, Seq("line"), "left")
      .withColumn("kept",
        length(col("line")) === 0 ||
          (col(idCol) === col(s"first_occ.$idCol")
            && col("pos") === col("first_occ.pos")))
    flagged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the nulls the when() leaves for cut lines
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n").as("new_text"))
      .select(col(idCol), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_removed"), col("new_text"))
  }

  /** Cross-document repeated-span dedup — the suffix-array dedup of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models Better":
    * remove long token spans that repeat verbatim across documents),
    * approximated scale-safe by span-HASH bucketing instead of a global
    * suffix array: a k-token span (word n-gram, the
    * [[graft.expr.TextExprs.wordSpans]] tokenization — split of
    * lower(trim(text)) on `\s+`) is DUPLICATED when it occurs in more than
    * one distinct document. Its first corpus occurrence — smallest
    * (id, position), the [[paragraphDedupFirst]] min(struct) rule — is
    * kept; every OTHER occurrence is cut, and a token is removed when ANY
    * cut span occurrence covers its position. Documents are reassembled
    * from surviving tokens in original order, space-joined (the output is
    * the normalized token stream — tokenization-level dedup returns
    * tokens, not original whitespace).
    *
    * Output per input row: the id, `n_tokens`, `n_kept`, `n_removed`,
    * `new_text` ('' when nothing survives; sub-k documents pass through
    * whole).
    *
    * Scale shape: spans collapse to md5 fingerprints BEFORE the first
    * exchange, so the span-keyed shuffle carries 32-hex keys + positions —
    * never k-token span text (at k = 50 that is a ~20× shuffle-width cut,
    * and the reason the hash approximation beats a distributed suffix
    * array at 100 TB). First occurrence + cross-doc test is one
    * fingerprint-keyed hash aggregation (min(struct) + count(distinct id),
    * O(1) buffer per distinct span — no window over a viral span's
    * occurrence list); flagging is the probe side co-partitioned on the
    * same fingerprint; coverage expands cut spans to ≤ k positions and
    * distincts on (id, position); reassembly joins tokens once on
    * (id, position) and aggregates per document — the only shuffle that
    * carries token text, exactly once, same as [[paragraphDedupFirst]]'s
    * line shuffle. The corpus is scanned twice (span side + token side);
    * the span kernel runs twice (winner agg + probe), a CPU-for-IO trade
    * consistent with paragraphDedupFirst — at 100 TB both scans prune to
    * (id, text) and the fingerprint aggregation dominates. */
  def crossDocSpanDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "a span of fewer than 2 tokens is token-level dedup")
    // token stream and span stream speak the SAME tokenization contract
    // (TextFns.wordTokens == wordSpans at n=1, cross-checked in
    // VocabSpec), so covered positions line up with span positions
    val toks = df.select(col(idCol),
        posexplode(graft.functions.TextFns.wordTokens(col(textCol)))
          .as(Seq("pos0", "tok")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
    val covered = spanCut(df, idCol, textCol, k)
      .select(col(idCol), explode(sequence(col("pos"),
        col("pos") + lit(k.toLong - 1))).as("p"))
      .distinct()
    val kept = toks.join(covered,
      toks(idCol) === covered(idCol) && toks("pos") === covered("p"),
      "left_anti")
    val reassembled = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ").as("new_text"))
    // every covered position is exactly one removed token, so the token
    // total reconstructs as n_kept + n_removed — no third corpus scan.
    // full_outer: a fully-cut document appears only on the covered side,
    // an untouched one only on the reassembled side; no document has zero
    // tokens (split yields [''] at minimum), so no id is absent from both.
    val removedCnt = covered.groupBy(col(idCol)).agg(count(lit(1)).as("n_removed"))
    reassembled.join(removedCnt, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(col("n_kept"), lit(0L)) + coalesce(col("n_removed"), lit(0L)))
          .as("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** WHERE duplicated spans sit inside documents — the position-decile
    * histogram of the occurrences [[crossDocSpanDedup]] would cut (the
    * non-first occurrences of cross-document k-token spans). Boilerplate
    * concentrates in the first/last deciles (headers, footers, signature
    * blocks); a flat profile means genuine content duplication — two very
    * different curation responses, which is why the profile ships next to
    * the dedup itself.
    *
    * decile = (pos − 1)·10 div n_tokens ∈ [0, 9]. Output: (decile,
    * n_spans, n_docs), only deciles that occur. Scale shape: identical
    * to [[crossDocSpanDedup]]'s span/first-occurrence aggregation, minus
    * the reassembly pass — fingerprint-keyed, span text never shuffled. */
  def spanPositionProfile(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2)
    val nTok = df.select(col(idCol),
      org.apache.spark.sql.functions.size(
        graft.functions.TextFns.wordTokens(col(textCol))).cast("long")
        .as("__nt"))
    spanCut(df, idCol, textCol, k).join(nTok, Seq(idCol))
      .withColumn("decile", expr("(pos - 1L) * 10L div __nt"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col(idCol)).as("n_docs"))
  }

  /** The span occurrences [[crossDocSpanDedup]] cuts: every k-token span
    * (the [[graft.expr.TextExprs.wordSpans]] tokenization) that occurs in
    * more than one distinct document, minus its first corpus occurrence —
    * smallest (id, position), the [[paragraphDedupFirst]] min(struct)
    * rule. Spans are md5-fingerprinted in the same projection that
    * explodes them, so span TEXT never reaches an exchange; first
    * occurrence and the cross-doc test are one fingerprint-keyed
    * aggregation, and the cut is the probe side co-partitioned on the same
    * fingerprint. Output: (idCol, `pos` 1-based, `fp`, `first_occ`). */
  private def spanCut(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val spans = df.select(col(idCol),
        posexplode(graft.expr.TextExprs.wordSpans(col(textCol), k))
          .as(Seq("pos0", "span")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"),
        HashFns.md5Hex(col("span")).as("fp"))
    val firstOcc = spans.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("__nd"),
        min(struct(col(idCol), col("pos"))).as("first_occ"))
      .filter(col("__nd") > 1L)
      .select(col("fp"), col("first_occ"))
    spans.join(firstOcc, Seq("fp"))
      .filter(!(col(idCol) === col(s"first_occ.$idCol")
        && col("pos") === col("first_occ.pos")))
  }
}
