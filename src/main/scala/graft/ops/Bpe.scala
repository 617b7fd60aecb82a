package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.BpeExprs

/** Distributed BPE (byte-pair-encoding) merge learning — the tokenizer
  * TRAINING workload (Sennrich et al. 2016), the missing sibling of the
  * tokenizer-design family ([[Vocab]] reads the budget off a trained
  * tokenizer; this trains one). The reference stops at cleaned text
  * (PLATFORM-contextual-Chunking.py builds chunks straight from it); a
  * 100 TB pretraining flow trains its tokenizer ON that corpus, and the
  * training loop is the canonical map-side-combine workload.
  *
  * Scale shape — the whole point of the algorithm's structure:
  *  1. ONE corpus-wide shuffle builds the word-frequency table
  *     ([[Vocab.wordCounts]] — |vocab| rows, tiny next to the corpus).
  *  2. Every merge round then runs on the VOCAB frame only: pair counting
  *     is one map-side-combined aggregation over exploded symbol pairs,
  *     the winning pair is a `TakeOrderedAndProject` (1 row, collected —
  *     loop control), and the merge application is a map-only pass (the
  *     winner inlined as literals into the codegen'd
  *     [[graft.expr.BpeKernels.mergePair]] kernel). The corpus is never
  *     touched again — rounds cost O(|vocab| · avg word length) in ONE
  *     job each, not O(corpus).
  *  3. Applying the learned merges to the corpus ([[compressionStats]])
  *     goes back through the vocab: per-word final segmentations join onto
  *     the token stream (plain equi-join, no hint — AQE broadcasts while
  *     the vocab fits and falls back to a co-partitioned join at the 10M+
  *     type counts where a forced broadcast would be the round-9
  *     semanticDedup mistake), so the per-document cost is a join + sum,
  *     never a per-token merge loop.
  *
  * Determinism: counts are integer, the winner tiebreaks on
  * (pair_cnt DESC, l ASC, r ASC) — binary string order in both engines —
  * and merge application is greedy left-to-right non-overlapping (in an
  * overlap run, possible only when l == r, the 1st/3rd/5th… occurrence
  * merges), so every round is bit-reproducible against the DuckDB oracle.
  *
  * Representation: a word's segmentation is a SPACE-delimited symbol
  * string — initial form `"h e l l o </w>"` (per-code-point split + the
  * standard end-of-word marker). Symbols are space-free by construction
  * (words come from the whitespace tokenizer,
  * [[graft.functions.TextFns.wordTokens]]), so the encoding is
  * unambiguous and both engines can split it back with a plain `' '`.
  */
object Bpe {

  /** Initial symbol string of a word: every code point space-separated,
    * plus the `</w>` end-of-word marker. The oracle mirrors it as
    * `regexp_replace(w, '(.)', '\1 ', 'g') || '</w>'`.
    *
    * `(?s)` matters for cross-engine parity: Java's dotall-off `.` skips
    * ALL line terminators (\n \r U+0085 U+2028 U+2029) while DuckDB's RE2
    * `.` skips only \n — and U+0085/U+2028/U+2029 are whitespace in
    * NEITHER engine's `\s`, so they survive the word tokenizer and can
    * appear inside a word. Without dotall Spark would pass them through
    * unexpanded where the oracle splits them. With `(?s)` both engines
    * expand every character that can actually occur (a literal \n or \r
    * never reaches here: both `\s` classes consume them at tokenization). */
  private[graft] def initialSym(word: Column): Column =
    concat(regexp_replace(word, "(?s)(.)", "$1 "), lit("</w>"))

  /** Weighted adjacent-pair counts over a `(w, sym, cnt)` vocab frame, sum
    * of word counts per (l, r). The adjacent pairs of a space-delimited
    * symbol string are EXACTLY [[graft.expr.ShingleKernels.wordSpans]] at
    * n=2 (symbols are lowercase and space-free by construction, so the
    * kernel's lower/trim/split contract is the identity here) — one fused
    * codegen pass instead of an interpreted transform/element_at chain on
    * the per-round hot path, and the kernel's sub-n → `[]` behavior
    * retires fully-merged single-symbol words with no guard (Spark
    * `sequence(1, 0)` would DESCEND). Each pair splits back on its single
    * interior space; one map-side-combined aggregation. */
  private[graft] def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"),
        explode(graft.expr.TextExprs.wordSpans(col("sym"), 2)).as("pr"))
      .groupBy(substring_index(col("pr"), " ", 1).as("l"),
        substring_index(col("pr"), " ", -1).as("r"))
      .agg(sum(col("cnt")).as("pair_cnt"))

  /** Learn `rounds` BPE merges from the corpus' text column.
    *
    * Returns `(merges, words)`: the merge table
    * `(merge_round, left_sym, right_sym, pair_cnt)` — ≤ rounds rows, in
    * learning order — and the final vocab frame `(w, sym, cnt)` carrying
    * each word's segmentation under all learned merges (the artifact
    * [[compressionStats]] applies to the corpus).
    *
    * Per-round cost is ONE Spark job: the winning pair is collected to
    * the driver (1 row — loop CONTROL, the `isEmpty`-probe class, not
    * data movement; the accumulated merge table is ≤ rounds rows, i.e.
    * the size of the tokenizer file this trains) and applied to the
    * vocab as LITERALS in a map-only projection — no per-round broadcast
    * exchange, no per-round join. The vocab re-checkpoints every
    * `checkpointEvery` merges (lazily, so materialization piggybacks on
    * the next round's collect): between checkpoints the plan chains up
    * to `checkpointEvery` nested merge-kernel projections, which
    * CollapseProject fuses into one codegen stage, and the checkpoint
    * then cuts both plan and lineage — bounded depth at ANY merge count.
    * (The previous spelling checkpointed per round yet kept a
    * per-round broadcast-join leg in the plan; past ~100 rounds the
    * accumulated task graph overflowed the task-deserializer stack.
    * BASELINE.md's round-12 record shows 1024 rounds running flat at the
    * per-round floor.)
    *
    * A corpus that runs out of distinct pairs before `rounds` stops
    * early (the collect comes back empty). */
  def learn(df: DataFrame, textCol: String, rounds: Int,
      checkpointEvery: Int = 8): (DataFrame, DataFrame) = {
    require(rounds >= 1, "learning zero merges is Vocab.wordCounts")
    require(checkpointEvery >= 1, "checkpoint cadence must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val wc = Vocab.wordCounts(df, textCol)
    var words = wc.select(col("word").as("w"), initialSym(col("word")).as("sym"),
        col("cnt"))
      .localCheckpoint(false)
    val merges = ArrayBuffer.empty[(Long, String, String, Long)]
    var rnd = 1
    var exhausted = false
    while (rnd <= rounds && !exhausted) {
      val win = pairCounts(words)
        .orderBy(col("pair_cnt").desc, col("l").asc, col("r").asc).limit(1)
        .collect()
      if (win.isEmpty) {
        exhausted = true
      } else {
        val (l, r, cnt) =
          (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
        merges += ((rnd.toLong, l, r, cnt))
        words = words.select(col("w"),
          BpeExprs.bpeMergePair(col("sym"), lit(l), lit(r)).as("sym"),
          col("cnt"))
        if (rnd % checkpointEvery == 0) words = words.localCheckpoint(false)
        rnd += 1
      }
    }
    // one uniform construction covers the zero-merge corpus too (every
    // doc blank or single-symbol): an empty driver-built frame with the
    // same schema as the learned table
    val mergeTable = merges.toSeq
      .toDF("merge_round", "left_sym", "right_sym", "pair_cnt")
    (mergeTable, words)
  }

  /** Corpus-side segmentation report under a trained vocab frame
    * ([[learn]]'s second result): per document, total initial symbols
    * (chars + one `</w>` per token), total symbols after all merges,
    * `n_oov_tokens`, and `compression_ppm = n_after · 1e6 div n_before`
    * (integer division, engine-exact; 0 for empty documents).
    *
    * Tokens ABSENT from the trained vocab (possible whenever the scored
    * corpus differs from the training corpus — the natural "train
    * tokenizer, segment new data" use) cannot be segmented, so they are
    * excluded from both symbol totals and REPORTED in `n_oov_tokens`
    * rather than silently dropped: a document of entirely unseen words
    * shows (0, 0, n, 0), distinguishable from an empty one. Per-document
    * cost is one equi-join (hint-free — see the object note) and one sum;
    * documents whose every token vanished under the blank filter come
    * back with zeros via the left join. */
  def compressionStats(df: DataFrame, idCol: String, textCol: String,
      finalWords: DataFrame): DataFrame = {
    val toks = df.select(col(idCol),
      explode(filter(graft.functions.TextFns.wordTokens(col(textCol)),
        t => t =!= "")).as("w"))
    val wordCost = finalWords.select(col("w"),
      (length(col("w")) + 1).cast("long").as("n_before"),
      size(split(col("sym"), " ")).cast("long").as("n_after"))
    val agg = toks.join(wordCost, Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("n_before")).as("n_sym_before"),
        sum(col("n_after")).as("n_sym_after"),
        count(when(col("n_before").isNull, 1)).as("n_oov_tokens"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sym_before"), lit(0L)).as("n_sym_before"),
        coalesce(col("n_sym_after"), lit(0L)).as("n_sym_after"),
        coalesce(col("n_oov_tokens"), lit(0L)).as("n_oov_tokens"))
      .withColumn("compression_ppm",
        when(col("n_sym_before") === 0L, lit(0L))
          .otherwise(expr("n_sym_after * 1000000L div n_sym_before")))
  }

  /** Segment a word frame under an ALREADY-LEARNED merge list — the BPE
    * ENCODE step (apply merges in learned order, each with the greedy
    * left-to-right kernel), the standard way a trained tokenizer handles
    * words it never saw in training. The merge list is inlined as
    * literals, `checkpointEvery` merges fused per projection (nested
    * codegen kernel calls — CollapseProject makes them one stage) with a
    * lineage cut between batches: bounded plan depth at any merge count,
    * the [[learn]] discipline. Cost: map-only passes over the word frame
    * — no joins, no shuffles. Output: the input columns plus `sym`. */
  def segmentWords(words: DataFrame, wCol: String,
      merges: Seq[(String, String)], checkpointEvery: Int = 64): DataFrame = {
    var cur = words.withColumn("sym", initialSym(col(wCol)))
    val groups = merges.grouped(checkpointEvery).toSeq
    groups.zipWithIndex.foreach { case (grp, i) =>
      val folded = grp.foldLeft(col("sym")) { case (s, (l, r)) =>
        BpeExprs.bpeMergePair(s, lit(l), lit(r))
      }
      cur = cur.withColumn("sym", folded)
      // cut lineage BETWEEN groups only — a trailing checkpoint would pin
      // the final frame's blocks in executor storage for no depth benefit
      if (i < groups.size - 1) cur = cur.localCheckpoint(false)
    }
    cur
  }

  /** Corpus segmentation under a trained tokenizer — the "train on one
    * corpus, segment another" report [[compressionStats]] only gestures
    * at (it EXCLUDES out-of-vocabulary tokens; this segments them):
    * known words join their trained segmentation from the vocab frame,
    * OOV words run the learned merge list through [[segmentWords]], and
    * every token therefore lands a real symbol count. Per document:
    * `n_tokens`, `n_oov_tokens`, `n_sym` (total symbols under the
    * tokenizer), and `sym_per_token_ppm = n_sym · 1e6 div n_tokens`
    * (integer-exact; 0 for empty documents).
    *
    * Scale shape: one distinct over the token stream (the |vocab|-sized
    * shuffle), map-only merge passes over the OOV slice of it, one
    * hint-free equi-join back onto the token stream (AQE broadcasts
    * while the segmentation table is small — the [[compressionStats]]
    * discipline). The merge table is collected to the driver: it is the
    * tokenizer artifact itself, ≤ `rounds` rows by [[learn]]'s contract
    * — the same class as the training loop's winner rows, not data. */
  def segmentCorpus(df: DataFrame, idCol: String, textCol: String,
      merges: DataFrame, finalWords: DataFrame): DataFrame = {
    val ms = mergeSeq(merges)
    val toks = df.select(col(idCol),
      explode(filter(graft.functions.TextFns.wordTokens(col(textCol)),
        t => t =!= "")).as("w"))
    val known = finalWords.select(col("w"), col("sym"))
    val oov = segmentWords(
      toks.select(col("w")).distinct().join(known, Seq("w"), "left_anti"),
      "w", ms)
    val cost = known.withColumn("is_oov", lit(0L))
      .unionByName(oov.select(col("w"), col("sym"), lit(1L).as("is_oov")))
      .select(col("w"), size(split(col("sym"), " ")).cast("long").as("n_sym"),
        col("is_oov"))
    val agg = toks.join(cost, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("is_oov")).as("n_oov_tokens"),
        sum(col("n_sym")).as("n_sym"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov_tokens"), lit(0L)).as("n_oov_tokens"),
        coalesce(col("n_sym"), lit(0L)).as("n_sym"))
      .withColumn("sym_per_token_ppm",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr("n_sym * 1000000L div n_tokens")))
  }

  /** The learned merge table as the ordered (left, right) pair list
    * [[segmentWords]] consumes. Collected to the driver: the merge table
    * IS the tokenizer artifact — ≤ rounds rows by [[learn]]'s contract —
    * the same class as the training loop's winner rows, not data. */
  def mergeSeq(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy(col("merge_round"))
      .select(col("left_sym"), col("right_sym")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Per-merge application counts over a scoring corpus — the usage
    * signal vocabulary pruning reads: how many times does merge k
    * actually FIRE when this corpus is encoded? A merge the deployment
    * corpus never exercises is dead weight in the tokenizer artifact
    * (and in every inference-time merge scan).
    *
    * Count identity: one application of merge k shrinks a word's symbol
    * string by exactly one, so per word the round-k application count is
    * `n_sym(before round k) − n_sym(after round k)`, weighted by the
    * word's corpus frequency. That makes the whole R-round count ONE
    * map-only pass over the |vocab| frame — the R chained merge kernels
    * and the R+1 symbol-count columns fuse into a single codegen stage
    * (the [[segmentWords]] CollapseProject discipline) — followed by one
    * scalar aggregation. The corpus is touched once ([[Vocab.wordCounts]]).
    *
    * Output: (`merge_round`, `n_applied`), one row per merge, in order. */
  def mergeUsage(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "usage of an empty merge table is no table")
    var cur = Vocab.wordCounts(df, textCol)
      .select(col("cnt"), initialSym(col("word")).as("sym0"))
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      cur = cur.withColumn(s"sym${i + 1}",
        BpeExprs.bpeMergePair(col(s"sym$i"), lit(l), lit(r)))
    }
    val sized = (0 to merges.size).foldLeft(cur) { (d, i) =>
      d.withColumn(s"__n$i", size(split(col(s"sym$i"), " ")).cast("long"))
    }
    val aggs = (1 to merges.size).map(i =>
      sum(col("cnt") * (col(s"__n${i - 1}") - col(s"__n$i"))).as(s"__u$i"))
    val one = sized.agg(aggs.head, aggs.tail: _*)
    val stacked = (1 to merges.size)
      .map(i => s"${i}L, coalesce(__u$i, 0L)").mkString(", ")
    one.selectExpr(
      s"stack(${merges.size}, $stacked) AS (merge_round, n_applied)")
  }

  /** Usage-based vocabulary pruning with dependency closure: seed the
    * kept set with the `keep` most-used merges (ties → earliest round),
    * then close over producers — a kept merge's input symbols keep EVERY
    * earlier merge whose output is that exact string, to a fixpoint — so
    * the pruned merge list can always be applied in learning order
    * without dangling inputs. (The closure is conservative: two distinct
    * merges can produce the same string, and both stay; correctness over
    * minimality.)
    *
    * Driver-side by design: the merge table is the tokenizer artifact
    * (≤ rounds rows — the [[mergeSeq]] contract), and the closure is a
    * fixpoint over those rows, not over data.
    *
    * Output: the full merge table annotated — (`merge_round`, `left_sym`,
    * `right_sym`, `n_applied`, `kept`). */
  def pruneByUsage(merges: DataFrame, usage: DataFrame,
      keep: Int): DataFrame = {
    require(keep >= 1)
    val spark = merges.sparkSession
    import spark.implicits._
    val m = merges.select(col("merge_round"), col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val u = usage.select(col("merge_round"), col("n_applied"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = m.map(_._1).sortBy(rnd => (-u.getOrElse(rnd, 0L), rnd))
      .take(keep).toSet
    var kept = seeds
    var grown = true
    while (grown) {
      val inputs = m.filter(x => kept(x._1))
      val add = m.collect { case (j, l, r)
          if !kept(j) && inputs.exists { case (k, lk, rk) =>
            j < k && (l + r == lk || l + r == rk) } => j }
      grown = add.nonEmpty
      kept ++= add
    }
    m.toSeq.map { case (rnd, l, r) =>
      (rnd, l, r, u.getOrElse(rnd, 0L), kept(rnd)) }
      .toDF("merge_round", "left_sym", "right_sym", "n_applied", "kept")
  }
}
