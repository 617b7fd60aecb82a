package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data EXPORT: split the final mix into N shards and produce the
  * manifest a consumer (or a resumed export) verifies against. The
  * reference's terminal step is a driver-collected CSV upload; at 100 TB
  * the export is a distributed partitioned write plus a tiny manifest
  * table — the manifest, not the bytes, is what resumption and integrity
  * checks read.
  *
  * Shard assignment is STATELESS (a hash of the id), so it needs no global
  * coordination, survives reruns, and any subset of rows can be
  * re-exported idempotently. For strict size balance use
  * [[Ids.globalIndex]] modulo N instead — hash sharding balances to
  * ±O(√(rows/shard)), which at training scale is well under a percent.
  */
object Shard {

  /** Stateless shard id from the portable md5-prefix hash (the engine-
    * portable convention every oracle-checked sampling path here uses). */
  def assignShards(df: DataFrame, idCol: String, numShards: Int,
      outCol: String = "shard"): DataFrame =
    df.withColumn(outCol,
      pmod(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long"),
        lit(numShards.toLong)))

  /** Per-shard manifest: row count, token total, and an ORDER-INDEPENDENT
    * content checksum (sum of a 32-bit md5 prefix per id — commutative, so
    * no per-shard sort and no collect; two exports of the same rows match
    * regardless of task scheduling). */
  def manifest(df: DataFrame, shardCol: String, idCol: String,
      tokenCount: Column): DataFrame =
    df.groupBy(col(shardCol))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(tokenCount).cast("long").as("n_tokens"),
        sum(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
          .cast("long")).as("checksum"))

  /** Shuffle-quality audit: did the epoch permutation actually
    * decorrelate sources? Orders each epoch's documents by the
    * [[Mixture.epochOrder]] key (md5(epoch:id), id tiebreak) WITHIN
    * md5-bucketed shards (the unit a writer materializes — and the unit
    * that keeps every window partition at corpus/shards rows instead of
    * corpus), then measures the adjacent same-source rate. A good
    * shuffle lands at the independence baseline Σ share² (the
    * Herfindahl index of the source mix, reported alongside); a bad one
    * (e.g. sorted-by-source input passed through) sits far above it.
    *
    * Output per epoch: (epoch, n_pairs, n_same, same_ppm, hhi_ppm).
    * All integer: hhi_ppm = Σ cnt²·1e6 div n² with the denominator
    * downscale spelling. */
  def shuffleQualityAudit(df: DataFrame, idCol: String, srcCol: String,
      epochs: Int, shards: Int): DataFrame = {
    require(epochs >= 1 && shards >= 1)
    import org.apache.spark.sql.expressions.Window
    val e = df.select(col(idCol), col(srcCol).as("__src"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(epochs - 1L))))
      .withColumn("__ord", md5(concat(col("epoch").cast("string"), lit(":"),
        col(idCol).cast("string"))))
      .withColumn("__shard",
        graft.functions.HashFns.md5Bucket(col(idCol).cast("string"), shards))
    val w = Window.partitionBy(col("epoch"), col("__shard"))
      .orderBy(col("__ord").asc, col(idCol).asc)
    val adj = e.withColumn("__prev", lag(col("__src"), 1).over(w))
      .groupBy(col("epoch"))
      .agg(sum(when(col("__prev").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("__prev") === col("__src"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("same_ppm", expr("n_same * 1000000L div n_pairs"))
    // hybrid ratio spelling: numerator upscale is exact but overflows
    // past n = 3e6 (sq·1e6 ≤ n²·1e6); the denominator downscale never
    // overflows but loses everything when n² < 1e6 — branch on n
    val hhi = df.groupBy(col(srcCol)).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c") * col("__c")).as("__sq"),
        sum(col("__c")).as("__n"))
      .select(expr("CASE WHEN __n <= 3000000L" +
        " THEN __sq * 1000000L div (__n * __n)" +
        " ELSE __sq div greatest((__n * __n) div 1000000L, 1L) END")
        .as("hhi_ppm"))
    adj.crossJoin(broadcast(hhi))
      .select(col("epoch"), col("n_pairs"), col("n_same"), col("same_ppm"),
        col("hhi_ppm"))
  }

  /** Duplicate-cluster-aware fold assignment — the leakage-safe
    * train/val/test split: every member of an exact-duplicate cluster
    * (md5 of normalized text, the [[Dedup.exactGroups]] fingerprint)
    * lands in the SAME fold, because the fold hash is taken over the
    * cluster representative (smallest member id), never the document id.
    * A doc-level split scatters a duplicate family across folds and the
    * validation set silently contains training text.
    *
    * Output: one row per document (idCol, cluster_id, fold, plus
    * naive_fold — what a doc-level md5 split would have assigned, kept
    * so the straddle audit is computable downstream without re-hashing).
    *
    * Scale shape: one fingerprint aggregate (32-char keys, map-combined)
    * plus one equi-join back on the fingerprint — the q07 dedup shuffle
    * shape, never document payloads. */
  def clusterAwareFolds(df: DataFrame, idCol: String, textCol: String,
      numFolds: Int): DataFrame = {
    require(numFolds >= 2)
    val fp = df.select(col(idCol),
      graft.functions.HashFns.md5Hex(Dedup.normalized(col(textCol))).as("__fp"))
    val clusters = fp.groupBy(col("__fp"))
      .agg(min(col(idCol)).as("cluster_id"))
    fp.join(clusters, Seq("__fp"))
      .select(col(idCol), col("cluster_id"),
        graft.functions.HashFns.md5Bucket(
          concat(lit("fold:"), col("cluster_id").cast("string")), numFolds)
          .as("fold"),
        graft.functions.HashFns.md5Bucket(
          concat(lit("fold:"), col(idCol).cast("string")), numFolds)
          .as("naive_fold"))
  }

  /** Incremental-export reconciliation: diff two shard [[manifest]]s and
    * classify every shard — the step a resumed or repeated export runs
    * FIRST, so it rewrites only shards whose content actually changed
    * instead of re-uploading 100 TB. Status per shard:
    *
    *  - `unchanged` — same rows, tokens, and content checksum (the
    *    order-independent md5-prefix sum, so task scheduling can't fake a
    *    diff);
    *  - `changed`   — present in both with any field differing;
    *  - `added`     — only in `next`;  `removed` — only in `prev`.
    *
    * Output: (shard, status, rows_prev, rows_next, tokens_prev,
    * tokens_next, row_delta, token_delta), absent sides zero-filled so
    * the deltas are plain arithmetic. Scale shape: one full-outer
    * equi-join of two |shards|-row frames — manifest-sized, never
    * data-sized. */
  def manifestDelta(prev: DataFrame, next: DataFrame): DataFrame = {
    val p = prev.select(col("shard"), col("n_rows").as("__rp"),
      col("n_tokens").as("__tp"), col("checksum").as("__cp"))
    val n = next.select(col("shard"), col("n_rows").as("__rn"),
      col("n_tokens").as("__tn"), col("checksum").as("__cn"))
    p.join(n, Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("__rp").isNull, lit("added"))
          .when(col("__rn").isNull, lit("removed"))
          .when(col("__rp") === col("__rn") && col("__tp") === col("__tn") &&
            col("__cp") === col("__cn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("__rp"), lit(0L)).as("rows_prev"),
        coalesce(col("__rn"), lit(0L)).as("rows_next"),
        coalesce(col("__tp"), lit(0L)).as("tokens_prev"),
        coalesce(col("__tn"), lit(0L)).as("tokens_next"))
      .withColumn("row_delta", col("rows_next") - col("rows_prev"))
      .withColumn("token_delta", col("tokens_next") - col("tokens_prev"))
  }

  /** Rendezvous (highest-random-weight) shard of the id: the shard s in
    * [0, numShards) whose salted digest `md5(id || ':' || s)` is
    * lexicographically largest (Thaler & Ravishankar 1998 — public
    * literature; md5 hex compares as an unsigned 128-bit value because
    * the digest is fixed-length lowercase hex). Unlike `id mod N`, where
    * changing N remaps nearly every id, rendezvous moves EXACTLY the
    * minimum: growing N_old → N_new relocates a doc only if one of the
    * new shards wins its argmax — probability 1 − N_old/N_new — and a
    * doc that moves always moves to a NEW shard (no churn between
    * survivors). That is the property a 100 TB shard layout needs: going
    * 1024 → 1280 shards rewrites 20% of the bytes, not 99%.
    *
    * Cost is numShards digests per row, map-side (no shuffle). */
  def rendezvousShard(id: Column, numShards: Int): Column = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val arr = transform(sequence(lit(0), lit(numShards - 1)),
      s => md5(concat(id.cast("string"), lit(":"), s.cast("string"))))
    (array_position(arr, array_max(arr)) - 1L).cast("long")
  }

  /** Jump-consistent-hash shard of a LONG id (Lamping & Veach 2014 —
    * [[graft.expr.HashKernels.jumpHash]]): the same minimal-move property
    * as [[rendezvousShard]] for grow-by-append shard changes (a doc moves
    * only to a NEW shard, probability 1 − nOld/nNew) at O(log n) expected
    * LCG steps per row instead of O(numShards) md5 digests — the deploy
    * assignment for four-digit shard counts (1024 shards: ~10 integer
    * multiplies vs 1024 digests per row). Trade-offs vs rendezvous: the
    * shard space must grow/shrink at the END (jump has no notion of
    * removing a middle shard), and the key is the integer id itself —
    * hash string ids to a long first. Map-side, no shuffle, and
    * oracle-portable: pure integer/IEEE-double arithmetic a recursive
    * CTE re-spells exactly (q253). */
  def jumpShard(id: Column, numShards: Int): Column =
    graft.expr.HashExprs.jumpHash(id.cast("long"), numShards)

  /** [[jumpShard]] for STRING keys (URLs, uuids, composite ids — the
    * r15 gap: string-keyed tables had no deploy-path assignment):
    * md5Long of the key (the repo's portable mod-hash spelling — 8 hex
    * digits, 32 bits) feeds the same jump loop, so the recursive-CTE
    * oracle runs unchanged on the hashed key (q263). Still map-side,
    * no shuffle: one digest + ~log n integer steps per row.
    *
    * Collision stance: keys that collide in the 32-bit md5 prefix
    * co-move between shard layouts forever. That is harmless for
    * BALANCE (numShards ≪ 2^32, and the jump LCG diffuses the 32-bit
    * key over the full state) and costs only minimal-move granularity
    * (a colliding pair can't split across a grow); widen `md5Long`'s
    * hexDigits at the call site if that granularity ever matters. */
  def jumpShardStr(key: Column, numShards: Int): Column =
    graft.expr.HashExprs.jumpHash(
      graft.functions.HashFns.md5Long(key), numShards)

  /** Shard-balance audit of the three stateless assignment schemes at a
    * fixed shard count — the pre-deploy check that the cheap scheme (jump:
    * O(log n) integer steps) balances like the digest schemes before a
    * layout commits to it. One row per scheme ∈ {jump, mod, rendezvous}:
    * (scheme, n_shards_used, min_docs, max_docs, peak_ppm), where
    * `peak_ppm = max_docs·numShards·1e6 div n_docs` is the hottest shard's
    * load factor ×1e6 (1e6 = perfectly even) and `n_shards_used <
    * numShards` means some shard got NOTHING (min/max are over non-empty
    * shards). A uniform hash lands peak_ppm at 1e6 + O(√(numShards/rows));
    * a broken assignment (biased key, wrong modulus) reads far above.
    *
    * Scale shape: one map-side projection computing all three assignments,
    * a map-side explode to (scheme, shard), one map-combined count down to
    * ≤ 3·numShards rows, one |schemes|-row rollup. No joins, no collect. */
  def shardBalance(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val id = col(idCol)
    // mod and rendezvous hash the STRING rendering, so they accept any
    // key type as-is; jump keys on the integer domain, so a string key
    // routes through jumpShardStr's md5Long (r15 verdict task: string
    // tables get the same three-scheme audit, q264)
    val jumpCol = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        jumpShardStr(id, numShards)
      case _ => jumpShard(id, numShards)
    }
    val assigned = df.select(explode(array(
        struct(lit("mod").as("scheme"),
          pmod(graft.functions.HashFns.md5Long(id.cast("string")),
            lit(numShards.toLong)).as("shard")),
        struct(lit("rendezvous").as("scheme"),
          rendezvousShard(id, numShards).as("shard")),
        struct(lit("jump").as("scheme"),
          jumpCol.as("shard")))).as("a"))
      .select(col("a.scheme").as("scheme"), col("a.shard").as("shard"))
    // branch bound: the ·numShards·1e6 upscale of max_docs must fit int64
    val exactBound = Long.MaxValue / (numShards.toLong * 1000000L)
    assigned.groupBy(col("scheme"), col("shard"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_shards_used"),
        min(col("__c")).as("min_docs"), max(col("__c")).as("max_docs"),
        sum(col("__c")).as("__n"))
      .select(col("scheme"), col("n_shards_used"), col("min_docs"),
        col("max_docs"),
        expr(s"""CASE WHEN __n <= 0L THEN 0L
                |     WHEN max_docs <= ${exactBound}L
                |       THEN max_docs * ${numShards}L * 1000000L div __n
                |     ELSE max_docs * ${numShards}L div (__n div 1000000L)
                |END""".stripMargin).cast("long").as("peak_ppm"))
  }

  /** Resharding-stability audit: when the shard count changes
    * nOld → nNew, what fraction of documents MOVE under (a) the mod-hash
    * assignment ([[assignShards]] — the stateless default) vs (b)
    * [[rendezvousShard]]? One row per scheme:
    * (scheme ∈ {mod, rendezvous}, n_docs, n_moved, moved_ppm), with the
    * ppm division branched on the 9 223 372 036 854 bound (the repo's
    * overflow rule — doc counts past it would overflow the ·1e6).
    *
    * Expected values the audit verifies in practice: rendezvous moves
    * ≈ (1 − nOld/nNew)·1e6 ppm on a grow (the provable minimum — every
    * move is a doc some NEW shard won); mod-hash moves
    * ≈ (1 − gcd-structure)·1e6, usually nearly everything. Run this
    * before a reshard to size the rewrite.
    *
    * Scale shape: one map-side projection computing all four assignments
    * (2·(nOld+nNew) digests per row, no shuffle), one 1-row grand-total
    * aggregate, exploded to the 2-row report on the driver side of the
    * plan — no collect, no second scan. */
  def reshardStability(df: DataFrame, idCol: String,
      nOld: Int, nNew: Int): DataFrame =
    reshardReport(df, idCol, nOld, nNew, includeJump = false)

  /** [[reshardStability]] extended with the [[jumpShard]] scheme — the
    * three-way report (mod / rendezvous / jump) a reshard decision reads:
    * on a grow, jump matches rendezvous's provably-minimal moved fraction
    * (both ≈ (1 − nOld/nNew)·1e6 ppm) at O(log n) integer work per row
    * instead of O(n) digests, while mod rewrites nearly everything. */
  def reshardStability3(df: DataFrame, idCol: String,
      nOld: Int, nNew: Int): DataFrame =
    reshardReport(df, idCol, nOld, nNew, includeJump = true)

  private def reshardReport(df: DataFrame, idCol: String,
      nOld: Int, nNew: Int, includeJump: Boolean): DataFrame = {
    require(nOld >= 1 && nNew >= 1, "shard counts must be >= 1")
    val id = col(idCol)
    // the canonical portable hash spelling — MUST stay the [[assignShards]]
    // assignment or the audit measures a different layout than the export
    def modShard(n: Int): Column =
      pmod(graft.functions.HashFns.md5Long(id.cast("string")), lit(n.toLong))
    // string keys ride jumpShardStr, the same dtype branch as shardBalance
    // (mod and rendezvous hash the string rendering already)
    def jumpCol(n: Int): Column = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType => jumpShardStr(id, n)
      case _ => jumpShard(id, n)
    }
    val schemes: Seq[(String, Column)] =
      Seq("mod" -> (modShard(nOld) =!= modShard(nNew)),
        "rendezvous" -> (rendezvousShard(id, nOld) =!= rendezvousShard(id, nNew))) ++
        (if (includeJump)
          Seq("jump" -> (jumpCol(nOld) =!= jumpCol(nNew)))
        else Nil)
    val assigned = df.select(schemes.map { case (name, mv) =>
      mv.as(s"__${name}_mv") }: _*)
    assigned
      .agg(count(lit(1)).as("n_docs"),
        schemes.map { case (name, _) =>
          coalesce(sum(when(col(s"__${name}_mv"), 1L).otherwise(0L)), lit(0L))
            .as(s"__${name}_moved") }: _*)
      .select(explode(array(schemes.map { case (name, _) =>
        struct(lit(name).as("scheme"), col("n_docs"),
          col(s"__${name}_moved").as("n_moved")) }: _*)).as("r"))
      .select(col("r.scheme").as("scheme"), col("r.n_docs").as("n_docs"),
        col("r.n_moved").as("n_moved"))
      .withColumn("moved_ppm",
        expr("""CASE WHEN n_docs <= 0L THEN 0L
               |     WHEN n_moved <= 9223372036854L
               |       THEN n_moved * 1000000L div n_docs
               |     ELSE n_moved div (n_docs div 1000000L)
               |END""".stripMargin).cast("long"))
  }
}
