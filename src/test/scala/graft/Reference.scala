package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.expr.{CosineSim, TextExprs}
import graft.functions.TextFns
import graft.functions.HashFns.{MinHashP, md5Long, minHashCoeffs}
import graft.functions.VectorFns.l2Norm
import graft.ops.Classify.{Distilled, LinearModel}
import graft.ops.Dedup.minHashLshPairsOn
import graft.ops.Unigram.Scale
import graft.ops.Vocab

/** Reference spellings that specs check a production twin against: the
  * built-in-function or generic-plan form of an operator whose production
  * path is a fused kernel or a compact plan. No query, tool or benchmark
  * flow calls them, so they live with the specs. Each keeps the scaladoc
  * it had beside its twin. */
object Reference {

  // twins of graft.expr.VectorExprs (dot_product, cosine_sim) and
  // graft.expr.TextExprs.sortedJaccard

  /** Dot product: sum_i a_i * b_i (double, left-to-right). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Higher-order-function spelling of [[graft.functions.VectorFns.cosine]]
    * (zip_with + aggregate) — kept as the no-custom-code reference
    * implementation and spec cross-check. */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .otherwise(when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom))
  }

  /** Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }

  // twin of graft.expr.BucketPairs

  /** The pairwise loop of [[graft.expr.BucketPairs]] without per-member
    * norms or blocked dot products: every (i, j > i) pair reads both
    * vectors through [[CosineSim.eval]]. `members` is the bucket's
    * `array<struct<id, keys, vec>>`, `idType` the id's type and `vecFloat`
    * whether the vector's elements are floats. */
  def bucketPairs(members: ArrayData, table: Int, floor: Double, idType: DataType,
      vecFloat: Boolean): ArrayData = {
    val idOrdering = PhysicalDataType.ordering(idType)
    val arr = members
    val tbl = table
    val n = arr.numElements()
    val ids = new Array[Any](n)
    val keys = new Array[ArrayData](n)
    val vecs = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 3)
      ids(i) = if (r.isNullAt(0)) null else r.get(0, idType)
      keys(i) = r.getArray(1)
      val v = if (r.isNullAt(2)) null else r.getArray(2)
      vecs(i) = if (v == null || CosineSim.anyNull(v)) null else v
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (ids(i) != null && ids(j) != null && vecs(i) != null && vecs(j) != null &&
            vecs(i).numElements() == vecs(j).numElements()) {
          val c = idOrdering.compare(ids(i), ids(j))
          if (c != 0) {
            val a = if (c < 0) i else j
            val b = i + j - a
            var k = 0
            while (k < tbl && keys(a).getLong(k) != keys(b).getLong(k)) k += 1
            if (k == tbl) {
              val cos = CosineSim.eval(vecs(a), vecFloat, vecs(b), vecFloat)
              if (cos >= floor) out += InternalRow(ids(a), ids(b), cos)
            }
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  // twin of graft.ops.Similarity.centroids

  /** Coarse centroids per bucket (IVF training step): element-wise mean of
    * vectors per label via posexplode + positional re-assembly. Two shuffles
    * ((label,pos) agg + label collect), both on bounded keys.
    *
    * The mean is computed as a left-to-right fold over the VALUE-SORTED
    * list, not `avg`: float summation order under partial aggregation is
    * scheduling-dependent, which would make the result differ run-to-run
    * and engine-to-engine. Sorting first pins the FP result bitwise. */
  def centroids(df: DataFrame, bucketCol: String, vecCol: String): DataFrame =
    df.select(col(bucketCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(bucketCol), col("pos"))
      .agg((aggregate(array_sort(collect_list(col("v").cast("double"))),
        lit(0.0), (acc, x) => acc + x) / count(lit(1))).as("mean_v"))
      .groupBy(col(bucketCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("pairs"))
      .select(col(bucketCol),
        transform(col("pairs"), p => p.getField("mean_v")).as("centroid"))

  // twins of graft.expr.HashExprs.minHashBandKeys

  /** Base hash array: each shingle md5-hashed ONCE to h ∈ [0, p). Project
    * this as its own column before [[minHashSigFromBase]] — inlining it
    * there would re-evaluate the md5 per permutation. */
  def minHashBase(shingles: Column): Column =
    transform(shingles, s => md5Long(s, 8) % MinHashP)

  /** MinHash signature (array<long>, length k) over an already-projected
    * base-hash array: permutation k takes min over (a_k·h + b_k) mod p —
    * the classic a·x+b universal-hashing MinHash, portable to any engine
    * with md5. */
  def minHashSigFromBase(base: Column, k: Int): Column =
    array(minHashCoeffs(k).map { case (a, b) =>
      array_min(transform(base, h => (lit(a) * h + lit(b)) % MinHashP))
    }: _*)

  /** One-shot spelling (base inlined — fine for single rows or tests). */
  def minHashSig(shingles: Column, k: Int): Column =
    minHashSigFromBase(minHashBase(shingles), k)

  /** LSH band keys: each of `bands` consecutive `rows`-sized signature
    * slices joined to a string — the equi-join key for candidate
    * generation. No hashing needed; the slice itself is the bucket id. */
  def bandSigs(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      concat_ws("_", slice(sig, b * rows + 1, rows))
    }: _*)

  // twin of graft.expr.HashExprs.simHashMd5

  /** SimHash from a pre-hashed token array: per-bit majority vote over the
    * low `bits` bits of each hash, summed into one fingerprint. Pass the
    * hash array through its own projection first — it is referenced once
    * per bit, and CollapseProject would otherwise inline (and re-evaluate)
    * the hashing `bits` times. */
  def simHashFromHashes(hashes: Column, bits: Int): Column =
    (0 until bits).map { bit =>
      val mask = 1L << bit
      val ones = size(filter(hashes, h => h.bitwiseAND(lit(mask)) =!= 0L))
      val zeros = size(hashes) - ones
      when(ones >= zeros, lit(mask)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** HOF reference spelling of the [[graft.expr.SimHashMd5]] kernel —
    * interpreted, kept for the bitwise-equality spec. */
  def simHashMd5Hof(tokens: Column): Column = {
    val hashes = transform(tokens, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    simHashFromHashes(hashes, 32)
  }

  // twins of the graft.expr.TextExprs shingle and span kernels

  /** Character n-gram array (distinct, sorted) — shingles for MinHash /
    * Jaccard near-dup detection. Built from sequence+transform so the whole
    * shingling stays codegen'd; no UDF. */
  def charShingles(c: Column, n: Int): Column = {
    val s = regexp_replace(lower(trim(c)), "\\s+", " ")
    when(length(s) < n, array(s))
      .otherwise(array_sort(array_distinct(
        transform(sequence(lit(1), length(s) - (n - 1)), i => s.substr(i, lit(n))))))
  }

  /** Word n-gram array (distinct, sorted) over whitespace tokens. */
  def wordShingles(c: Column, n: Int): Column = {
    val toks = split(regexp_replace(lower(trim(c)), "\\s+", " "), " ")
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(array_sort(array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + lit(1), lit(n)), " ")))))
  }

  /** Builtin higher-order-function reference spelling of
    * [[graft.ops.Multimodal.byteShingles]] — the form the DuckDB oracles
    * mirror textually; spec-tested identical to the kernel, kept out of
    * the hot path. */
  def byteShinglesHof(content: Column, k: Int): Column = {
    require(k >= 1, s"shingle bytes must be >= 1, got $k")
    val hx = hex(content)
    val width = lit(2 * k)
    when(length(hx) < width, array(hx))
      .otherwise(array_sort(array_distinct(transform(
        sequence(lit(1), length(hx) - width + lit(1), lit(2)),
        i => hx.substr(i, width)))))
  }

  /** Positional n-gram spans, HOF reference spelling — the form the DuckDB
    * oracles mirror; the operators run the fused codegen kernel
    * ([[graft.expr.ShingleKernels.wordSpans]]), and VocabSpec asserts the
    * two agree (the interpreted HOF chain costs ~µs per span — 20× the
    * whole-query budget at sf0.1). */
  def spansReference(c: Column, n: Int): Column = {
    val t = TextFns.wordTokens(c)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => array_join(slice(t, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  // twin of graft.expr.BpeExprs.bpeMergePair

  /** Declarative reference spelling of ONE merge application — the
    * gaps-and-islands form the DuckDB oracle mirrors, kept as the
    * spec-tested contract for the fused kernel
    * ([[graft.expr.BpeKernels.mergePair]]), the wordSpans precedent.
    * Greedy-left-to-right-non-overlapping == "in each maximal run of
    * candidate positions, merge the 1st, 3rd, 5th…"; this fold spells it
    * as a per-symbol state machine instead (skip flag), which is the same
    * selection. Interpreted HOF — reference/spec use only. */
  def mergePairReference(sym: Column, l: Column,
      r: Column): Column = {
    val syms = split(sym, " ")
    aggregate(
      sequence(lit(1), size(syms)),
      struct(array().cast("array<string>").as("out"), lit(false).as("skip")),
      (acc, i) => {
        val cur = element_at(syms, i)
        val nxt = try_element_at(syms, i + 1)
        when(acc.getField("skip"),
          struct(acc.getField("out").as("out"), lit(false).as("skip")))
          .when(cur === l && nxt === r,
            struct(concat(acc.getField("out"), array(concat(cur, nxt)))
              .as("out"), lit(true).as("skip")))
          .otherwise(
            struct(concat(acc.getField("out"), array(cur)).as("out"),
              lit(false).as("skip")))
      },
      acc => array_join(acc.getField("out"), " "))
  }

  // twin of Classify.qualityLogitFused
  private def charsMatching(c: Column, charClass: String): Column =
    (length(c) - length(regexp_replace(c, charClass, ""))).cast("long")


  /** Per-document features + logit + keep verdict under `model`.
    *
    * Output: the id and carry columns, `n_words`, `stop_ppm`, `punct_ppm`,
    * `digit_ppm`, `logit_e6`, `keep` (logit > 0).
    *
    * `toksCol` optionally names a PRE-TOKENIZED array column (the exact
    * [[graft.functions.TextFns.wordTokens]] spelling) so a multi-stage plan
    * that shares one materialized tokenization (q113) doesn't re-tokenize
    * here; when absent the tokens are derived from `textCol` in-plan.
    */
  def qualityLogit(df: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil,
      model: LinearModel = Distilled,
      toksCol: Option[String] = None): DataFrame = {
    val stops = TextFns.Stopwords
    val tokArr = toksCol.map(col).getOrElse(TextFns.wordTokens(col(textCol)))
    val toks = df.select(
      (col(idCol) +: carryCols.map(col)) ++ Seq(
        length(col(textCol)).cast("long").as("n_chars"),
        charsMatching(col(textCol), "[\\p{Punct}]").as("punct_chars"),
        charsMatching(col(textCol), "[0-9]").as("digit_chars"),
        explode(tokArr).as("tok")): _*)
    val agg = toks.groupBy((col(idCol) +: carryCols.map(col)): _*)
      .agg(
        first(col("n_chars")).as("n_chars"),
        first(col("punct_chars")).as("punct_chars"),
        first(col("digit_chars")).as("digit_chars"),
        count(lit(1)).as("n_words"),
        sum(when(col("tok").isin(stops: _*), 1L).otherwise(0L)).as("stop_hits"))
    val feats = agg.select(
      (col(idCol) +: carryCols.map(col)) ++ Seq(
        col("n_words"),
        expr("stop_hits * 1000000 DIV n_words").as("stop_ppm"),
        expr("punct_chars * 1000000 DIV greatest(n_chars, 1L)").as("punct_ppm"),
        expr("digit_chars * 1000000 DIV greatest(n_chars, 1L)").as("digit_ppm")): _*)
    feats.withColumn("logit_e6",
        lit(model.bias)
          + lit(model.wStopPpm) * col("stop_ppm")
          + lit(model.wPunctPpm) * col("punct_ppm")
          + lit(model.wDigitPpm) * col("digit_ppm")
          + lit(model.wWordCap) * least(col("n_words"), lit(model.wordCap.toLong)))
      .withColumn("keep", col("logit_e6") > 0L)
  }

  // twin of Unigram.viterbiSegmentFused

  /** Viterbi-segment `words(wordCol)` over `vocab(piece, score)`.
    * Pieces are 1–3 characters (the [[graft.ops.Unigram.pieceVocab]]
    * shapes); words longer than `maxLen` are OUT OF CONTRACT and dropped
    * (callers size `maxLen` to the corpus — the fixture max is 10).
    *
    * Output: (`wordCol`, n_pieces, score_sum, seg) — seg is the
    * space-joined piece sequence. */
  def viterbiSegment(words: DataFrame, wordCol: String, vocab: DataFrame,
      maxLen: Int): DataFrame = {
    require(maxLen >= 1)
    val w0 = words.select(col(wordCol).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= maxLen)
      .distinct()
      .localCheckpoint(false)
    val v = vocab.select(col("piece"), col("score"))
    // dp(p): per word with len >= p, minimal cost to segment chars 1..p,
    // and the chosen predecessor bj (p minus the final piece's length)
    var dps = Map(0 -> w0.select(col("w"), lit(0L).as("cost"), lit(0L).as("bj")))
    for (p <- 1 to maxLen) {
      val cands = (1 to math.min(3, p)).map { l =>
        dps(p - l)
          .filter(length(col("w")) >= p)
          .select(col("w"), col("cost"),
            substring(col("w"), p - l + 1, l).as("__piece"))
          .join(v, col("__piece") === col("piece"))
          .select(col("w"),
            (col("cost") + lit(Scale) - col("score")).as("cost"),
            lit((p - l).toLong).as("bj"))
      }.reduce(_ unionByName _)
      val rk = Window.partitionBy(col("w"))
        .orderBy(col("cost").asc, col("bj").asc)
      dps += p -> cands.withColumn("__rk", row_number().over(rk))
        .filter(col("__rk") === 1).drop("__rk")
        .localCheckpoint(false)
    }
    val dpAll = (1 to maxLen).map(p =>
        dps(p).select(col("w").as("dw"), lit(p.toLong).as("p"),
          col("cost"), col("bj")))
      .reduce(_ unionByName _)
      .localCheckpoint(false)
    // backtrack from p = len(w): prepend the final piece, step to bj.
    // A word containing a character absent from the vocabulary has no
    // DP row (no decomposition exists) and drops out at the final join.
    var bt = w0.select(col("w"), length(col("w")).cast("long").as("pos"),
      lit("").as("seg"))
    for (_ <- 1 to maxLen) {
      bt = bt.join(dpAll, col("w") === col("dw") && col("pos") === col("p"),
          "left")
        .select(col("w"),
          when(col("pos") === 0L, 0L).otherwise(col("bj")).as("pos"),
          when(col("pos") === 0L, col("seg"))
            .otherwise(concat(
              expr("substring(w, bj + 1, pos - bj)"),
              when(col("seg") === "", lit("")).otherwise(lit(" ")),
              col("seg"))).as("seg"))
        .localCheckpoint(false)
    }
    w0.join(dpAll, col("w") === col("dw") && length(col("w")) === col("p"))
      .join(bt.withColumnRenamed("w", "bw").withColumnRenamed("pos", "bpos")
        .withColumnRenamed("seg", "bseg"), col("w") === col("bw"))
      .select(col("w").as(wordCol),
        expr(s"(cost + ${Scale - 1}) div $Scale").as("n_pieces"),
        expr(s"((cost + ${Scale - 1}) div $Scale) * $Scale - cost").as("score_sum"),
        col("bseg").as("seg"))
  }

  // twin of Dedup.weightedMinHashLshPairs

  /** The r16 expanded-array spelling of
    * [[graft.ops.Dedup.weightedMinHashLshPairs]], kept as the reference
    * implementation for Wave44Spec's equivalence row (its A/B timing is
    * recorded in BASELINE.md, rounds 16 and 17): materializes the
    * `term#1…term#min(tf,cap)` expansion as a per-doc sorted array and
    * rides [[graft.ops.Dedup.minHashLshPairsOn]]'s array-carrying verify
    * join. Identical output by construction; retired from q268 because the wide expanded-array
    * rows GC-thrashed the 64× verify join at default shuffle partitions
    * (BASELINE.md round 16, task 5). */
  def weightedMinHashLshPairsExpanded(df: DataFrame,
      idCol: String, textCol: String, numHashes: Int, bands: Int,
      threshold: Double, tfCap: Int): DataFrame = {
    require(tfCap >= 1, s"tfCap must be >= 1, got $tfCap")
    val tf = df.select(col(idCol).as("id"),
        explode(array_remove(
          TextFns.wordTokens(col(textCol)), "")).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val expanded = tf
      .withColumn("__reps", transform(
        sequence(lit(1), least(col("tf"), lit(tfCap.toLong)).cast("int")),
        k => concat(col("term"), lit("#"), k.cast("string"))))
      .groupBy(col("id"))
      .agg(sort_array(flatten(collect_list(col("__reps")))).as("sh"))
    minHashLshPairsOn(expanded, "id", col("sh"), numHashes, bands, threshold)
  }

  // twin of Decontaminate.bloomDropList

  /** The no-bloom exact spelling of
    * [[graft.ops.Decontaminate.bloomDropList]] — the verifier the spec
    * holds the two-phase plan against (they must be row-identical on ANY
    * input; the bloom only prunes). */
  def exactDropList(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val withSplit = Vocab.splitAssign(docs, idCol)
    val spans = withSplit.select(col("split"), col(idCol),
      explode(TextExprs.wordSpans(col(textCol), n)).as("span"))
    val train = spans.filter(col("split") === "train")
      .select(col(idCol).as("doc_id"), col("span")).distinct()
    val eval = spans.filter(col("split") =!= "train").select(col("span")).distinct()
    train.join(eval, Seq("span"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaked_spans"))
  }

  // twins of Repetition.repetitionSignalsFused and gateVerdictsFused

  /** Per-document repetition signals over `textCol`:
    *
    *  - `dup_line_ppm`: duplicated lines / lines (a line is duplicated if
    *    an identical line occurred earlier in the SAME doc; ppm of line
    *    count beyond first occurrences).
    *  - `dup_line_char_ppm`: characters in those beyond-first-occurrence
    *    lines / total line characters (0 when the doc has no characters).
    *  - `top_bigram_ppm`: characters covered by the most frequent word
    *    2-gram (count × its length, over the normalized doc length; ties
    *    broken to the lexicographically smallest bigram; 0 for docs with
    *    fewer than two tokens). Overlapping occurrences are counted per
    *    occurrence — as in the published rule — so heavily degenerate docs
    *    can exceed 1e6; thresholds compare, they don't normalize.
    *
    * Tokenization matches the span family ([[graft.ops.Vocab.repeatedSpans]], q93):
    * lowercase, space-trim, split on `\s+`. `spansCol` optionally names a
    * PRE-COMPUTED word-bigram array column (the `wordSpans(text, 2)`
    * spelling) so a plan sharing one materialized tokenization (q113)
    * doesn't re-derive spans here. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      spansCol: Option[String] = None): DataFrame = {
    val id = col(idCol)

    // line repetition: (doc, line) counts, then per-doc fold. The
    // normalized doc length rides along through both aggregates (it is
    // constant per doc — 8 bytes per shuffle row) so the final projection
    // needs NO third scan of the corpus text: split("\n") emits >= 1 line
    // for every document (even empty text), so starting from this agg
    // keeps the operator total.
    val normLen = length(lower(trim(col(textCol)))).cast("long")
    val lines = df.select(id, normLen.as("__nl"),
      explode(split(col(textCol), "\n")).as("__line"))
    val lineAgg = lines.groupBy(id, col("__line"))
      .agg(count(lit(1)).as("__c"), first(col("__nl")).as("__nl"))
      .groupBy(id)
      .agg(
        sum(col("__c")).as("__n_lines"),
        sum(col("__c") - 1).as("__dup_lines"),
        sum((col("__c") - 1) * length(col("__line"))).as("__dup_chars"),
        sum(col("__c") * length(col("__line"))).as("__tot_chars"),
        first(col("__nl")).as("__norm_len"))

    // top word-bigram: (doc, span) counts, argmax by (count desc, span asc)
    val spanArr = spansCol.map(col).getOrElse(TextExprs.wordSpans(col(textCol), 2))
    val spans = df.select(id, explode(spanArr).as("__span"))
    val topBigram = spans.groupBy(id, col("__span"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(id)
      .agg(min(struct((-col("__c")).as("n"), col("__span").as("s"))).as("__top"))
      .select(id, (-col("__top.n")).as("__top_c"),
        length(col("__top.s")).cast("long").as("__top_len"))

    lineAgg
      .join(topBigram, Seq(idCol), "left")
      .select(id,
        expr("__dup_lines * 1000000 DIV __n_lines").as("dup_line_ppm"),
        when(col("__tot_chars") === 0, 0L)
          .otherwise(expr("__dup_chars * 1000000 DIV __tot_chars"))
          .as("dup_line_char_ppm"),
        when(col("__top_c").isNull || col("__norm_len") === 0, 0L)
          .otherwise(expr("__top_c * __top_len * 1000000 DIV __norm_len"))
          .as("top_bigram_ppm"))
  }

  /** Per-document gate verdict: [[repetitionSignals]] plus a `gate_pass`
    * boolean (the published rule is a conjunction of acceptances — a doc
    * fails if ANY signal exceeds its threshold). The per-doc form the
    * APPLY step consumes ([[graft.ops.Decontaminate.applyVerdicts]], q106);
    * [[graft.ops.Repetition.repetitionGate]] (q102) is its per-source rollup. */
  def gateVerdicts(df: DataFrame, idCol: String, textCol: String,
      maxDupLinePpm: Long, maxDupLineCharPpm: Long,
      maxTopBigramPpm: Long, spansCol: Option[String] = None): DataFrame =
    repetitionSignals(df, idCol, textCol, spansCol).withColumn("gate_pass",
      col("dup_line_ppm") <= maxDupLinePpm &&
        col("dup_line_char_ppm") <= maxDupLineCharPpm &&
        col("top_bigram_ppm") <= maxTopBigramPpm)
}
