package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge => B}

import graft.expr.TextExprs

/** Two-phase cross-split decontamination: the SCALE path for the exact
  * audit in [[Vocab.crossSplitLeaks]] (q97).
  *
  * q97's exact audit shuffles every distinct span of the WHOLE corpus to
  * group spans across splits — at 100 TB that is a full-corpus shuffle of
  * mostly-train spans that can never leak-match anything. The standard fix
  * (GPT-3 appendix C / Dolma's bloom-filter decontamination) is
  * asymmetric: the eval side (val+test, ~6% of the corpus under the q92
  * split) is folded into a Bloom filter, the train side is pruned
  * MAP-SIDE against it, and only the tiny survivor set (true leaks + the
  * bloom's false positives) reaches a join. Spark ships the right
  * primitives as internal runtime-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain`); the bloom reaches
  * the predicate as an UNCORRELATED SCALAR SUBQUERY (`Dataset.scalar`) —
  * the exact lifecycle of Spark's own injected runtime bloom joins
  * (subquery executes once, result broadcast into the codegen'd filter;
  * nothing is collected in operator code). The whole plan is composed in
  * the DataFrame API — no SQL text, no temp views, no catalog mutation —
  * so concurrent invocations on one SparkSession are fully independent.
  *
  * The output is EXACT, not approximate: bloom survivors are re-verified
  * with a semi-join against the real eval-span set, so false positives
  * cannot surface (and a bloom has no false negatives by construction).
  * The bloom only prunes — result is hash-identical to the no-bloom
  * spelling, which is what lets q103 share DuckDB oracle semantics with
  * the exact form. Shuffle accounting at scale: eval spans once (bloom
  * build, partial-agg'd), eval spans once more (verify join) and the
  * survivor slice — the dominant train-span mass moves zero times.
  */
object Decontaminate {

  /** Per-train-document drop list: documents whose text shares at least
    * one distinct word `n`-gram with the val/test splits (q92 assignment),
    * with the count of leaked spans — the artifact a decontamination run
    * actually applies. `estEvalSpans`/`numBits` size the bloom for the
    * EVAL side only (they are deploy knobs like `Similarity.lshBitsFor`:
    * the defaults give ~8 bits per expected distinct eval span — ~2%
    * false-positive rate, harmless because survivors are exactly
    * re-verified; size up for a smaller verify slice). */
  def bloomDropList(docs: DataFrame, idCol: String, textCol: String, n: Int,
      estEvalSpans: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    val withSplit = Vocab.splitAssign(docs, idCol)
    val spans = withSplit.select(col("split"), col(idCol),
      explode(TextExprs.wordSpans(col(textCol), n)).as("span"))
    val train = spans.filter(col("split") === "train")
      .select(col(idCol).as("doc_id"), col("span")).distinct()
    val eval = spans.filter(col("split") =!= "train")
      .select(col("span")).distinct()
    val bloom = eval.select(B.column(new BloomFilterAggregate(
        B.expression(xxhash64(col("span"))),
        B.expression(lit(estEvalSpans)),
        B.expression(lit(numBits))).toAggregateExpression()).as("bloom"))
      .scalar()
    val mightContain = B.column(BloomFilterMightContain(
      B.expression(bloom), B.expression(xxhash64(col("span")))))
    train.filter(mightContain)
      .join(eval, Seq("span"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaked_spans"))
  }

  /** APPLY step — turn the decontamination and repetition AUDITS into a
    * shippable corpus. Annotates every TRAIN document (q92 split) with its
    * removal verdict:
    *
    *  - `removal_reason`: `'contaminated'` (on `dropList`), `'gated'`
    *    (in `gateFails`), `'contaminated+gated'` (both), `'kept'`
    *  - `keep`: `removal_reason == 'kept'`
    *
    * Survivor corpus = `.filter(col("keep"))`; removal accounting = any
    * rollup over the annotations (q106 publishes the per-source one).
    * `dropList`/`gateFails` are consumed by their FIRST column (doc id) —
    * pass [[bloomDropList]] and [[Repetition.gateVerdictsFused]] failures
    * directly.
    *
    * Scale shape: two left equi-joins on the id. The drop list is rare
    * events (broadcast side at any scale); the gate-fail side can be a
    * double-digit percent of the corpus, but it joins as BARE IDS — ~8
    * bytes/row — while the text mass moves only through the join keyed by
    * the id it is already bucketed by in a warehouse layout
    * ([[graft.io.Layout]]), so co-location makes the apply shuffle-free at
    * deploy. Verdict derivation itself is map-side. */
  def applyVerdicts(docs: DataFrame, idCol: String, dropList: DataFrame,
      gateFails: DataFrame): DataFrame = {
    val train = Vocab.splitAssign(docs, idCol)
      .filter(col("split") === "train").drop("split")
    val dl = dropList.select(col(dropList.columns.head).as("__drop_id")).distinct()
    val gf = gateFails.select(col(gateFails.columns.head).as("__gate_id")).distinct()
    train
      .join(dl, col(idCol) === col("__drop_id"), "left")
      .join(gf, col(idCol) === col("__gate_id"), "left")
      .withColumn("removal_reason",
        when(col("__drop_id").isNotNull && col("__gate_id").isNotNull,
          "contaminated+gated")
          .when(col("__drop_id").isNotNull, "contaminated")
          .when(col("__gate_id").isNotNull, "gated")
          .otherwise("kept"))
      .withColumn("keep", col("removal_reason") === "kept")
      .drop("__drop_id", "__gate_id")
  }

  /** Cross-set span-leak audit — the SPAN-GRANULAR memorization report
    * the flag-style decon family doesn't give: for each EVAL document,
    * how many of its `k`-token spans occur verbatim in ANY train
    * document (the Lee et al. 2022 substring-leak lens cross-set), plus
    * the hottest leaked span's train-document frequency. Where
    * [[bloomDropList]] answers "which TRAIN docs must go", this answers
    * the eval-governance question "how contaminated is each benchmark
    * item, and how widespread is its worst leak".
    *
    * Output per eval row: `n_spans`, `n_leaked_spans`,
    * `max_span_train_docs` (distinct train docs containing the most
    * widespread leaked span; 0 when clean), and
    * `leak_ppm = n_leaked_spans · 1e6 div n_spans` (0 for sub-k docs).
    *
    * Scale shape: spans collapse to md5 fingerprints in the SAME
    * projection that generates them (the q119 discipline — span text
    * never reaches an exchange), the train side reduces to
    * (fp → distinct-doc count) in one fp-keyed hash aggregation BEFORE
    * any join (O(1) buffer per distinct span), and the audit join is a
    * hint-free fp equi-join against the eval span stream — never
    * train × eval, and AQE broadcasts the eval side when the benchmark
    * is small. Fingerprint equality stands in for span equality (md5,
    * the q119/q104 convention). */
  def spanLeakAudit(train: DataFrame, trainId: String, evalSet: DataFrame,
      evalId: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, "a 1-token span leak is vocabulary overlap")
    def spans(df: DataFrame, id: String): DataFrame =
      df.select(col(id),
          explode(TextExprs.wordSpans(col(textCol), k)).as("span"))
        .select(col(id), graft.functions.HashFns.md5Hex(col("span")).as("fp"))
    val trainFp = spans(train, trainId)
      .groupBy(col("fp"))
      .agg(countDistinct(col(trainId)).as("__n_train"))
    val marked = spans(evalSet, evalId).join(trainFp, Seq("fp"), "left")
      .groupBy(col(evalId))
      .agg(count(lit(1)).as("n_spans"),
        count(col("__n_train")).as("n_leaked_spans"),
        coalesce(max(col("__n_train")), lit(0L)).as("max_span_train_docs"))
    evalSet.select(col(evalId)).join(marked, Seq(evalId), "left")
      .select(col(evalId),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_leaked_spans"), lit(0L)).as("n_leaked_spans"),
        coalesce(col("max_span_train_docs"), lit(0L)).as("max_span_train_docs"))
      .withColumn("leak_ppm",
        when(col("n_spans") === 0L, lit(0L))
          .otherwise(expr("n_leaked_spans * 1000000L div n_spans")))
  }
}
