package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType,
  StructField, StructType}

import graft.expr.VectorExprs
import graft.functions.VectorFns

/** Vector similarity search — the engine's replacement for the reference's
  * Qdrant index (reference: PLATFORM-contextual-Chunking.py:132-174 builds
  * the collection; PLATFORM-GenerationLLM.py:42-58 does cosine top-k with a
  * score threshold).
  *
  * Scale design:
  *  - single-query top-k broadcasts the query vector and plans as
  *    TakeOrderedAndProject — per-partition heap, no global sort, no shuffle
  *    of the corpus;
  *  - multi-query kNN broadcasts the (small) query set and window-ranks per
  *    query — the corpus is scanned once, shuffled once on query_id;
  *  - all-pairs near-dup has an exact O(n²) form (for oracle parity at test
  *    scale) and an IVF-style label-bucketed form for the 100 TB path.
  */
object Similarity {

  /** O10/W2 — brute-force cosine top-k of `corpus` against a single query
    * vector (1-row DataFrame `query(qvecCol)`), with a similarity threshold.
    * Similarity is rounded to 6 dp so ranking ties break identically across
    * engines (tiebreak = id asc). */
  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, qvecCol: String, k: Int, threshold: Double): DataFrame = {
    val scored = corpus.crossJoin(broadcast(query))
      .withColumn("sim", round(VectorExprs.cosine(col(vecCol), col(qvecCol)), 6))
      .filter(col("sim") >= threshold)
    scored.orderBy(col("sim").desc, col(idCol).asc)
      .select(col(idCol), col("sim"))
      .limit(k)
  }

  /** Multi-query brute-force kNN: for each row of `queries`, the `k` nearest
    * corpus rows by cosine. Queries are broadcast; ranking is one window
    * shuffle keyed by the query id. */
  def knnJoin(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int): DataFrame = {
    val pairs = corpus.crossJoin(broadcast(queries))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", round(VectorExprs.cosine(col(corpusVec), col(queryVec)), 6))
    val w = Window.partitionBy(col(queryId)).orderBy(col("sim").desc, col(corpusId).asc)
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("sim"), col("rank"))
  }

  /** Exact all-pairs near-duplicates by cosine >= threshold (a < b). O(n²):
    * correct at any scale but quadratic — use [[bucketedNearDup]] at size.
    *
    * Each side's L2 norm is projected ONCE per row; the per-pair work is a
    * single fused dot product. The arithmetic (left-to-right sums, sqrt·sqrt
    * denominator, zero-denominator → 0) is bitwise-identical to
    * [[VectorExprs.cosine]], so results hash-match the naive spelling. */
  def nearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val prepped = df.select(col(idCol), col(vecCol),
      VectorFns.l2Norm(col(vecCol)).as("__nrm"))
    val a = prepped.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      col("__nrm").as("nrm_a"))
    val b = prepped.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      col("__nrm").as("nrm_b"))
    val denom = col("nrm_a") * col("nrm_b")
    // the bounded input typically arrives as ONE parquet split; without a
    // spread the nested-loop stream side runs its whole O(n²) pair loop on
    // a single core. Repartition the stream side to the session's
    // parallelism — trivial shuffle (n rows), n× the pair-loop cores.
    val streamA = a.repartition(df.sparkSession.sparkContext.defaultParallelism)
    streamA.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(
        when(col("vec_a").isNull || col("vec_b").isNull, lit(null).cast("double"))
          .otherwise(when(denom === 0.0, lit(0.0))
            .otherwise(VectorExprs.dot(col("vec_a"), col("vec_b")) / denom)), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** IVF-style near-dup: restrict pair generation to rows sharing a coarse
    * bucket (e.g. a cluster/label id, or an LSH band), then verify exactly.
    * This is the 100 TB path: the join key co-locates candidates, so the
    * cross product only happens within buckets. */
  def bucketedNearDup(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(bucketCol).as("b"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(bucketCol).as("b"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, Seq("b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(VectorExprs.cosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Coarse centroids per bucket (IVF training step): the element-wise mean
    * of the vectors of each label, one `centroid` array per label. Two
    * shuffles, (label, pos) then label, both on bounded keys.
    *
    * The mean of a (label, pos) column is a left-to-right fold from 0.0 over
    * its VALUE-SORTED non-null components, divided by the number of vectors
    * that reach `pos` (null components count, add nothing), not `avg`: float
    * summation order under partial aggregation is scheduling-dependent,
    * which would make the result differ run-to-run and engine-to-engine.
    * Sorting first pins the FP result bitwise. A label whose vectors are all
    * null or empty gets no row.
    *
    * No row is made per vector component. Each input partition is sorted by
    * label, and [[LabelColumns]] streams each label's run into one row per
    * position: the label, `pos`, the run's non-null components widened to
    * double, and the count of vectors that reach `pos`. Those rows take the
    * (label, pos) exchange, and [[graft.expr.SortedMean]] finishes each
    * group once: `java.util.Arrays.sort`, the fold, the division. The
    * per-label assembly (sort the (pos, mean) pairs, keep the means) is the
    * original spelling's, so schema and values are bit-identical to
    * `posexplode` + `array_sort(collect_list(v))` + `aggregate`.
    *
    * Memory: one group holds one column of one cell, as 8-byte doubles.
    * Map-side, one label's run within one partition, behind a sort that can
    * spill. Collecting whole vectors per label and finishing them in one
    * kernel was as fast, but then one group holds a whole cell's vectors,
    * and the noise cell of a density clustering is most of the corpus.
    *
    * Sorting with `Arrays.sort` in place of `array_sort`'s SQL comparator
    * cannot move a result. The two orders differ only among values the SQL
    * comparator calls equal: −0.0 against +0.0, and NaNs among themselves.
    * A fold from +0.0 gives the same bits whatever the order of ±0.0 (the
    * accumulator never becomes −0.0, and adding ±0.0 to it is exact). A NaN
    * makes the sum NaN wherever it sorts, and +∞ and −∞ together give NaN
    * in either order. (When a NaN component meets the NaN that ∞ − ∞
    * makes, which of their bits the sum keeps is the JIT's choice of
    * operand, in either spelling.)
    *
    * The sorted input is captured with `queryExecution.toRdd` (the
    * [[Ids.globalIndex]] precedent), so an input plan with an exchange runs
    * that exchange when this frame is built. */
  def centroids(df: DataFrame, bucketCol: String, vecCol: String): DataFrame = {
    val sorted = df.select(col(bucketCol), col(vecCol).cast("array<double>"))
      .sortWithinPartitions(col(bucketCol))
    val label = sorted.schema.head
    val runs = sorted.queryExecution.toRdd
      .mapPartitions(rows => new LabelColumns(rows, label.dataType))
    val schema = StructType(Seq(label, StructField("pos", IntegerType, nullable = false),
      StructField("__vals", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("__n", LongType, nullable = false)))
    Bridge.dataFrameFromInternalRdd(df.sparkSession, runs, schema)
      .groupBy(col(bucketCol), col("pos"))
      .agg(VectorExprs.sortedMean(collect_list(col("__vals")), sum(col("__n"))).as("mean_v"))
      .groupBy(col(bucketCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("pairs"))
      .select(col(bucketCol),
        transform(col("pairs"), p => p.getField("mean_v")).as("centroid"))
  }

  /** One input partition of [[centroids]], sorted by label (field 0, the
    * vector as `array<double>` in field 1), as one row per (label, pos) of
    * each label's run: label, pos, the run's non-null components at pos,
    * and the number of the run's vectors that reach pos. Holds one run.
    * Each input row is consumed before the next is asked for, because the
    * sort reuses it. */
  private final class LabelColumns(rows: Iterator[InternalRow], labelType: DataType)
      extends Iterator[InternalRow] {
    private val ordering = PhysicalDataType.ordering(labelType)
    private var cols = Array.empty[Array[Double]] // components per pos
    private var fill = Array.empty[Int] // used length of each cols(p)
    private var reach = Array.empty[Long] // vectors reaching each pos
    private var width = 0 // longest vector of the run
    private var label: Any = null // copied out of the reused row
    private var inRun = false
    private var out: Iterator[InternalRow] = Iterator.empty

    override def hasNext: Boolean = {
      while (!out.hasNext && (inRun || rows.hasNext)) {
        if (rows.hasNext) {
          val r = rows.next()
          if (!inRun) start(r)
          else if (sameLabel(r)) add(r)
          else { out = emit(); start(r) }
        } else { out = emit(); inRun = false }
      }
      out.hasNext
    }

    override def next(): InternalRow = { hasNext; out.next() }

    private def sameLabel(r: InternalRow): Boolean =
      if (r.isNullAt(0)) label == null
      else label != null && ordering.compare(label, r.get(0, labelType)) == 0

    private def start(r: InternalRow): Unit = {
      label = if (r.isNullAt(0)) null else InternalRow.copyValue(r.get(0, labelType))
      inRun = true
      add(r)
    }

    private def add(r: InternalRow): Unit = if (!r.isNullAt(1)) {
      val v = r.getArray(1)
      val n = v.numElements()
      if (n > cols.length) {
        val was = cols.length
        cols = java.util.Arrays.copyOf(cols, n)
        for (p <- was until n) cols(p) = new Array[Double](8)
        fill = java.util.Arrays.copyOf(fill, n)
        reach = java.util.Arrays.copyOf(reach, n)
      }
      width = math.max(width, n)
      var p = 0
      while (p < n) {
        reach(p) += 1
        if (!v.isNullAt(p)) {
          if (fill(p) == cols(p).length) cols(p) = java.util.Arrays.copyOf(cols(p), 2 * fill(p))
          cols(p)(fill(p)) = v.getDouble(p)
          fill(p) += 1
        }
        p += 1
      }
    }

    private def emit(): Iterator[InternalRow] = {
      val rowsOut = Array.tabulate[InternalRow](width) { p =>
        val row = new GenericInternalRow(Array[Any](label, p,
          UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(cols(p), fill(p))),
          reach(p)))
        fill(p) = 0
        reach(p) = 0L
        row
      }
      width = 0
      rowsOut.iterator
    }
  }

  /** Write the vector index partitioned by its coarse (IVF) label:
    * `path/label=<l>/part-*.parquet`. Probed searches then read ONLY the
    * probed buckets' files — partition pruning at the source, the on-disk
    * face of [[ivfTopK]]'s label equi-join.
    *
    * The coarse quantizer (per-label centroids, ≤ nlist rows) is persisted
    * alongside under `path/_quantizer` — an underscore-prefixed directory,
    * which Spark's file listing ignores, so index readers never see it —
    * because the IVF contract freezes the quantizer at build time:
    * incremental additions ([[upsertIvfIndex]]) must route through the
    * ORIGINAL centroids, not centroids drifted by the additions
    * themselves.
    *
    * The quantizer is [[centroids]] over the index as it comes: each input
    * partition is sorted by label and streamed label run by label run, so
    * the build makes one row per (label, pos) per partition, never one per
    * vector component. The index is not repartitioned by label before its
    * write: that saved 130–210 ms per `pipeline_scaled` flow, but at cluster
    * scale it is one more shuffle of the whole corpus. */
  def writeIvfIndex(index: DataFrame, labelCol: String, path: String): Unit = {
    index.write.mode("overwrite").partitionBy(labelCol).parquet(path)
    val vecCol = index.columns.find(c =>
      c != labelCol && index.schema(c).dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType])
      .getOrElse(throw new IllegalArgumentException(
        s"no array column to build the quantizer from in ${index.columns.mkString(",")}"))
    centroids(index.select(col(labelCol), col(vecCol)), labelCol, vecCol)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_quantizer")
  }

  /** Read back a partitioned IVF index (partition pruning applies to any
    * `labelCol` predicate Catalyst can derive). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The frozen coarse quantizer written by [[writeIvfIndex]]. */
  def readIvfQuantizer(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/_quantizer")

  /** Incremental IVF maintenance: route `rows(idCol, vecCol)` to their
    * nearest FROZEN centroid (cosine, ties to the smallest label — the
    * quantizer persisted at build time, so assignment is independent of
    * every earlier upsert) and rewrite ONLY the affected label partitions
    * via dynamic partition overwrite. The untouched cells — at deploy
    * scale, almost all of them — are neither read (partition pruning on
    * the collected affected-label set, ≤ nlist values, the loop-control
    * class) nor written, which is what makes nightly index refreshes
    * O(batch), not O(index).
    *
    * Returns the per-label ingestion summary (label, n_added,
    * n_total_after) — the governance row a refresh job logs. */
  def upsertIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = readIvfQuantizer(spark, path)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__csim").desc, col(labelCol).asc)
    val assigned = rows.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents)) // ≤ nlist rows — statically bounded
      .withColumn("__csim", round(VectorExprs.cosine(col(vecCol), col("centroid")), 6))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col(vecCol), col(labelCol))
      .localCheckpoint(eager = false)
    val affected = assigned.select(col(labelCol)).distinct()
      .collect().map(_.get(0)) // ≤ nlist labels by construction
    // the write below overwrites the same location this frame reads —
    // the checkpoint hides the file source from Spark's self-overwrite
    // guard, and the read itself is safe because the dynamic-overwrite
    // committer stages every task's output and only swaps partition
    // directories at job commit, after all reads have completed (a
    // crash-hardened deployment would stage to a temp prefix + swap)
    val existing = readIvfIndex(spark, path)
      .filter(col(labelCol).isin(affected: _*)) // partition pruning
      .select(col(idCol), col(vecCol), col(labelCol))
      .localCheckpoint(eager = false)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try existing.unionByName(assigned)
      .write.mode("overwrite").partitionBy(labelCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    readIvfIndex(spark, path)
      .filter(col(labelCol).isin(affected: _*))
      .groupBy(col(labelCol)).agg(count(lit(1)).as("n_total_after"))
      .join(assigned.groupBy(col(labelCol)).agg(count(lit(1)).as("n_added")),
        Seq(labelCol))
      .select(col(labelCol), col("n_added"), col("n_total_after"))
  }

  /** Deployment sizing rule for sign-RP LSH: bits per table so that the
    * EXPECTED bucket occupancy stays ~`targetOccupancy` regardless of
    * corpus size — `bits = ceil(log2(n / targetOccupancy))`, floored at 6.
    *
    * Why this is THE scale knob: candidate generation in [[rpLshNearDup]]
    * is a self-join within (table, bucket), so per-bucket work is
    * occupancy², and total candidate work is `n · occupancy` — linear in n
    * only if occupancy is held constant. Run a 64× corpus at 1× resolution
    * and occupancy grows 64×, candidate pairs ~4096× (measured: the 64×
    * capstone audit in BASELINE.md). Resolution is a deploy-time parameter
    * chosen from corpus statistics — exactly like `numPartitions` — not
    * part of a query's semantics; the oracle-checked queries bind the
    * fixture-sized defaults (6 bits for ≤5k vectors ⇒ this rule's own
    * output). Raising bits lowers per-table recall (P[agree]^bits), so
    * deployments raise the table count alongside — see `tools/TimeScaled`
    * for the worked 64× example (12 tables × 12 bits). */
  def lshBitsFor(n: Long, targetOccupancy: Int = 80): Int = {
    require(n >= 0 && targetOccupancy >= 1)
    val buckets = math.max(1.0, n.toDouble / targetOccupancy)
    math.max(6, math.ceil(math.log(buckets) / math.log(2.0)).toInt)
  }

  /** Sign-random-projection LSH near-dup — the deterministic scale path for
    * "find similar pairs with no coarse label": bucket each vector by the
    * sign pattern of `bitsPerTable` seeded ±1 hyperplane projections
    * (numTables independent tables), compare vectors only within a
    * (table, bucket) — grouped by the bucket key, never a cross product —
    * and keep the pairs whose exact cosine reaches `threshold`.
    *
    * Unlike MLlib's BucketedRandomProjectionLSH (Gaussian planes no other
    * engine can reproduce) this is hash-checkable end-to-end against DuckDB: the
    * bucket keys come from exact integer arithmetic ([[graft.expr.SignRpBuckets]]).
    *
    * Plan: one exchange. Each vector's row is exploded once per table,
    * carrying its id, its whole key array and the vector, and repartitioned
    * on (t, key); the bucket's members are collected on that same
    * partitioning, and [[graft.expr.BucketPairs]] compares them pairwise in
    * one compiled loop per bucket. A pair is compared only in the FIRST
    * table where its two key arrays agree, so each pair is verified once —
    * the set a `distinct` over every colliding table would keep — and the
    * kernel returns only pairs with cosine ≥ threshold − 1e-6, which
    * `round(·, 6)` then filters exactly: rounding to 6 places moves a value
    * by at most 5e-7. No candidate frame exists: the kernel replaces a
    * bucket self-join (occupancy² joined rows per bucket) and a verify join
    * that looked both vectors up per candidate, which together ran every
    * candidate through freshly generated code on every query (327,567 of
    * them per `pipeline_scaled` flow, to keep 997).
    *
    * The exchange carries an explicit partition count, the session's
    * shuffle parallelism: its bytes are N·tables vector rows, while its
    * work is occupancy² comparisons per bucket, which AQE's byte-based
    * coalescing cannot see (left adaptive, the `pipeline_scaled` fixture's
    * candidate join ran on 1 task). Same pattern and rationale as
    * [[Retrieval.bm25Weights]]' doc repartition.
    *
    * At 100 TB: comparisons per bucket scale with collision probability
    * (1 - θ/π)^bits — tune bits up to keep buckets bounded ([[lshBitsFor]]);
    * the shuffle is N·tables vectors, against a candidate join's
    * candidates × vector lookups.
    */
  def rpLshNearDup(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]], bitsPerTable: Int,
      threshold: Double): DataFrame = {
    val shufN = df.sparkSession.sessionState.conf.numShufflePartitions
    val tables = planes.length / bitsPerTable
    // explode the table indices, not the key array: a generator over the
    // `keys` column gets `size(keys) > 0` inferred and pushed below the
    // projection, hashing every vector three times
    val buckets = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), VectorExprs.signRpBuckets(
        col(vecCol), planes, bitsPerTable).as("keys"))
      .select(col("id"), col("keys"), col("vec"), explode(lit((0 until tables).toArray)).as("t"))
      .withColumn("key", col("keys")(col("t")))
      .filter(col("key").isNotNull)
      .repartition(shufN, col("t"), col("key"))
      .groupBy(col("t"), col("key"))
      .agg(collect_list(struct(col("id"), col("keys"), col("vec"))).as("members"))
    buckets
      .select(explode(VectorExprs.bucketPairs(col("members"), col("t"),
        threshold - 1e-6)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), round(col("p.cos"), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-inspired bucket-level semantic thinning (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): partition the embedding space into deterministic
    * sign-RP-LSH buckets (the published method's k-means clusters, replaced
    * by a hash partition so the result is engine-exact and rerun-stable),
    * then keep ONE representative per bucket — the member nearest the
    * bucket centroid — and mark the rest as semantic duplicates.
    *
    * All arithmetic is integer-exact end-to-end, so the verdict hash-checks
    * against any engine: embeddings quantize to [[VectorFns.quantize]]
    * longs (the q47 convention), and "nearest the centroid" compares
    * `Σ_d (n·q_d − S_d)²` — distance to the centroid scaled by the bucket
    * size `n`, avoiding the mean's division entirely. Magnitude bound:
    * |n·q| ≤ n·QuantScale·max|x|, so the squared sum stays inside a long
    * for n·QuantScale ≲ 3·10⁸ — at larger buckets, coarsen the scale or
    * widen to decimal (same plan shape).
    *
    * Scale shape — the reason SemDeDup beats pairwise dedup at 100 TB:
    * there is NO pairwise join anywhere. One explode of n·dim quantized
    * components, one (bucket, dim)-keyed aggregation (|buckets|·dim rows),
    * one map-side-combined per-vector distance aggregation, and a
    * |buckets|-row min(struct) argmin. Work is linear in n·dim at any
    * duplication rate, where every candidate-pair method degrades with
    * bucket occupancy².
    *
    * The bucket aggregates (`s`: ≤ 2^bits·dim rows; `nb`/`keep`: ≤ 2^bits
    * rows) are broadcast ONLY when that static bound is provably small
    * (`2^bits·dim ≤ smallAggRowCap`). Under `lshBitsFor` the bucket count —
    * and hence `bits` — grows with the corpus, so at 10⁹ vectors × 768 dims
    * the sums table is ~10¹⁰ rows: a forced broadcast there is a guaranteed
    * driver OOM, because Spark honors explicit hints regardless of size.
    * Past the cap we leave the joins unhinted: `e` and `s` derive from the
    * SAME exploded frame keyed by (bucket, d), so they co-partition through
    * one hash exchange each, and AQE may still pick a broadcast at runtime
    * if the actual aggregate turns out tiny — graceful in both directions.
    *
    * Output per input row: the id, `bucket`, `n_members`, `dist2`
    * (scaled integer distance), `keep`. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]], bits: Int): DataFrame = {
    val dim = planes.head.length
    // ~1M rows ≈ tens of MB serialized — the conventional broadcast comfort
    // zone; anything bigger shuffles (the bound is static: no count job).
    val hinted: DataFrame => DataFrame =
      if ((1L << math.min(bits, 62)) * dim <= smallAggRowCap) broadcast _
      else identity _
    val keyed = df.select(col(idCol), col(vecCol),
      element_at(VectorExprs.signRpBuckets(col(vecCol), planes, bits), 1)
        .as("bucket"))
    val e = keyed
      .select(col(idCol), col("bucket"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .withColumn("q", VectorFns.quantize(col("v")))
      .drop("v")
    val nb = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("n_members"))
    val s = e.groupBy(col("bucket"), col("d")).agg(sum(col("q")).as("__sd"))
    val diff = col("n_members") * col("q") - col("__sd")
    val dist = e
      .join(hinted(s), Seq("bucket", "d"))
      .join(hinted(nb), Seq("bucket"))
      .groupBy(col(idCol), col("bucket"), col("n_members"))
      .agg(sum(diff * diff).as("dist2"))
    val keep = dist.groupBy(col("bucket"))
      .agg(min(struct(col("dist2"), col(idCol))).as("__k"))
      .select(col("bucket"), col("__k")(idCol).as("__keep_id"))
    dist.join(hinted(keep), Seq("bucket"))
      .withColumn("keep", col(idCol) === col("__keep_id"))
      .select(col(idCol), col("bucket"), col("n_members"), col("dist2"), col("keep"))
  }

  /** Bucket-aggregate row bound below which `semanticDedup` pins broadcast
    * joins; above it the (bucket, d)-keyed joins co-partition instead. */
  val smallAggRowCap: Long = 1L << 20

  /** Embedding dispersion — the diversity metric semantic dedup exists to
    * raise: per group, the SUM of squared L2 distances over all ordered
    * pairs, in closed form from one-pass sums (no pairwise join):
    *
    *   Σ_{i≠j} ||x_i − x_j||² = 2n·Σ_i ||x_i||² − 2·Σ_d (Σ_i x_id)²
    *
    * computed over [[VectorFns.quantize]]d longs, so the
    * statistic is integer-exact and engine-portable. Output per group:
    * `n`, `pair_dist2_sum` (the closed form above), and `mean_dist2_e6` =
    * floor(sum · 1e6 / (n·(n−1))) (0 for singleton groups). Magnitude
    * bound: sum ≤ 2n²·dim·QuantScale²·max|x|² — longs hold to n ≈ 10⁵ per
    * group at scale 1000; shard groups or coarsen the scale past
    * that (same plan shape).
    *
    * Scale shape: one explode of n·dim components into a
    * (group, dim)-keyed aggregation (map-side combined; |groups|·dim
    * output rows), then a |groups|-row projection. Linear in n·dim;
    * the pairwise semantics cost literally nothing extra. */
  def embeddingDispersion(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val e = df
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("d", "v")))
      .withColumn("q", VectorFns.quantize(col("v")))
    val byDim = e.groupBy(col(groupCol), col("d"))
      .agg(sum(col("q") * col("q")).as("__sq"), sum(col("q")).as("__s"),
        count(lit(1)).as("__n"))
    byDim.groupBy(col(groupCol))
      // the closed form assumes every vector in a group has the same width:
      // each (group, dim) cell must then hold exactly n entries. A ragged
      // group breaks the identity silently, so fail loudly instead of
      // returning a wrong statistic (min==max over the per-dim counts is
      // the uniformity proof, computed in the same pass — no extra job).
      .agg(min(col("__n")).as("__nmin"), max(col("__n")).as("__nmax"),
        sum(col("__sq")).as("__a"), sum(col("__s") * col("__s")).as("__b"))
      .withColumn("n", when(col("__nmin") === col("__nmax"), col("__nmin"))
        .otherwise(raise_error(concat(
          lit("embeddingDispersion: ragged vector widths in group "),
          col(groupCol).cast("string")))))
      .select(col(groupCol), col("n"),
        (lit(2L) * col("n") * col("__a") - lit(2L) * col("__b"))
          .as("pair_dist2_sum"))
      .withColumn("mean_dist2_e6",
        // widen to decimal before the 1e6 scaling: sum·1e6 can pass 2^63
        // while the MEAN is small; integral DIV of positives truncates
        // identically in any engine (DuckDB mirrors via HUGEINT)
        when(col("n") <= 1L, 0L)
          .otherwise(expr(
            "CAST(CAST(pair_dist2_sum AS DECIMAL(38,0)) * 1000000" +
              " DIV (n * (n - 1)) AS BIGINT)")))
  }

  /** IVF-style top-k search: route the query to its `nprobe` nearest coarse
    * centroids, then brute-force only those buckets — the 100 TB search
    * path (the corpus join is an equi-join on the bucket label; only
    * ~nprobe/nlist of the index is ever scanned, and with the index table
    * partitioned by label, partition pruning skips the rest at the source). */
  def ivfTopK(index: DataFrame, idCol: String, vecCol: String, labelCol: String,
      query: DataFrame, qvecCol: String, nprobe: Int, k: Int, threshold: Double): DataFrame = {
    val cents = centroids(index.select(col(labelCol), col(vecCol)), labelCol, vecCol)
    val probed = cents.crossJoin(broadcast(query))
      .withColumn("csim", round(VectorExprs.cosine(col("centroid"), col(qvecCol)), 6))
      .orderBy(col("csim").desc, col(labelCol).asc)
      .limit(nprobe)
      .select(col(labelCol))
    index.join(broadcast(probed), Seq(labelCol))
      .crossJoin(broadcast(query))
      .withColumn("sim", round(VectorExprs.cosine(col(vecCol), col(qvecCol)), 6))
      .filter(col("sim") >= threshold)
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("sim"))
  }

  /** Multi-query [[ivfTopK]] — each query routes to its `nprobe` nearest
    * coarse centroids, candidates equi-join on the label, rank is one
    * window keyed by the query id (the multi-query discipline of
    * [[knnJoin]]).
    *
    * Broadcast discipline: the ONLY static hint is on the centroid table —
    * ≤ nlist rows, the index's design-time cell count (IVF's premise is
    * that the coarse quantizer fits in memory; the q31 k·dim precedent).
    * The query set and the (query × nprobe)-row probe table carry NO hint:
    * both grow with however many queries the caller routes (q122 derives
    * its sample from the corpus), and Spark honors explicit hints
    * regardless of size — so those joins are left to AQE, which still
    * broadcasts small runtime sides (the semanticDecon pattern). Both are
    * plain equi-joins, so the unhinted fallback is a co-partitioned
    * shuffle, not a cross product. Self-matches excluded (audit
    * convention: a query must not retrieve itself). */
  def ivfKnnJoin(index: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, queryId: String, queryVec: String,
      nprobe: Int, k: Int): DataFrame = {
    val cents = centroids(index.select(col(labelCol), col(vecCol)), labelCol, vecCol)
    val wp = Window.partitionBy(col(queryId))
      .orderBy(col("csim").desc, col(labelCol).asc)
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("csim", round(VectorExprs.cosine(col("centroid"), col(queryVec)), 6))
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= nprobe)
      .select(col(queryId), col(labelCol))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(idCol).asc)
    index.join(probes, Seq(labelCol))
      .join(queries, Seq(queryId))
      .filter(col(idCol) =!= col(queryId))
      .withColumn("sim", round(VectorExprs.cosine(col(vecCol), col(queryVec)), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryId), col(idCol), col("sim"), col("rank"))
  }

  /** Recall@k audit of the IVF route against exact brute force — the
    * governance artifact an approximate index ships with: per query, how
    * many of the true top-k the probed search returned
    * (`recall_ppm = n_hits · 1e6 div least(k, n_exact)`, integer-exact).
    * The denominator is the EXACT side's per-query row count capped at k,
    * not a fixed k: a corpus with fewer than k eligible neighbors returns
    * < k true rows, and dividing by k there would misread truncation as
    * misses (recall could never reach 1e6 on small buckets). A query with
    * ZERO eligible neighbors (corpus of one) is vacuously fully recalled.
    *
    * Scale shape: the EXACT side is the audit's cost anchor — it scans the
    * corpus once per broadcast query batch, so the query set must be a
    * bounded sample (audit a few hundred queries, not the corpus; the IVF
    * side touches only probed buckets either way). Both sides rank by the
    * same 6-dp-rounded similarity with id tiebreaks, so the comparison is
    * engine-exact, and a query whose probes miss every true neighbor still
    * reports (left join, zero hits). */
  def ivfRecallAudit(index: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, queryId: String, queryVec: String,
      nprobe: Int, k: Int): DataFrame = {
    val exact = knnJoin(index, idCol, vecCol, queries, queryId, queryVec, k)
      .select(col(queryId), col(idCol))
    val approx = ivfKnnJoin(index, idCol, vecCol, labelCol, queries, queryId,
        queryVec, nprobe, k)
      .select(col(queryId), col(idCol))
    // ONE pass over the exact side yields both counts: left-mark each true
    // neighbor with whether the approximate route returned it, then count
    // rows (n_exact) and marks (n_hits) in the same aggregation — the
    // exact ranking (the audit's cost anchor) is never re-evaluated for a
    // second consumer
    val stats = exact
      .join(approx.withColumn("__hit", lit(1)), Seq(queryId, idCol), "left")
      .groupBy(col(queryId))
      .agg(count(lit(1)).as("__n_exact"), count(col("__hit")).as("n_hits"))
    queries.select(col(queryId))
      .join(stats, Seq(queryId), "left")
      .select(col(queryId), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("__n_exact"), lit(0L)).as("__n_exact"))
      .withColumn("recall_ppm",
        when(col("__n_exact") === 0L, lit(1000000L))
          .otherwise(expr(s"n_hits * 1000000L div least(${k}L, __n_exact)")))
      .drop("__n_exact")
  }

  /** Embedding-space decontamination: flag every training vector within
    * `threshold` cosine of ANY eval-set vector — the semantic complement
    * of the n-gram/Bloom decon family ([[Decontaminate]]): token-overlap
    * decon misses paraphrased benchmark leakage; embedding decon catches
    * it. The cross-set sibling of [[rpLshNearDup]].
    *
    * Scale shape: candidates form ONLY where a train and an eval vector
    * share a (table, bucket) sign-RP key — an equi-join on the band key,
    * never train × eval. The eval side is a benchmark suite (thousands of
    * rows), so its keyed form is small and AQE broadcasts it at runtime;
    * the join carries no static hint because "eval is small" is a contract,
    * not a provable bound (the semanticDedup lesson). Verification re-reads
    * only candidate ids. Recall follows the band parameters exactly as in
    * [[rpLshNearDup]] — deployments tune (tables × bits) to the similarity
    * regime they must catch.
    *
    * Output per TRAIN row: the id, `contaminated`, `n_eval_hits`, and the
    * best-matching eval vector (`top_eval_id`, `top_sim` — highest
    * similarity, ties to the smallest eval id; NULL when clean). All
    * orderings go through the 6-dp-rounded similarity, so the verdict is
    * engine-exact. */
  def semanticDecon(train: DataFrame, idCol: String, vecCol: String,
      evalSet: DataFrame, evalIdCol: String, evalVecCol: String,
      planes: Array[Array[Double]], bits: Int,
      threshold: Double): DataFrame = {
    def keyed(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id), posexplode(VectorExprs.signRpBuckets(
        col(vec), planes, bits)).as(Seq("t", "key")))
    val cand = keyed(train, idCol, vecCol)
      .join(keyed(evalSet, evalIdCol, evalVecCol), Seq("t", "key"))
      .select(col(idCol), col(evalIdCol)).distinct()
    val hits = cand
      .join(train.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(evalSet.select(col(evalIdCol), col(evalVecCol)), Seq(evalIdCol))
      .withColumn("sim",
        round(VectorExprs.cosine(col(vecCol), col(evalVecCol)), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_hits"),
        min(struct((-col("sim")).as("ns"), col(evalIdCol).as("eid"))).as("__m"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        col("__m").isNotNull.as("contaminated"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        col("__m.eid").as("top_eval_id"),
        (-col("__m.ns")).as("top_sim"))
  }

  /** Mutual top-m confirmation over a candidate pair frame (id_a, id_b,
    * sim): keep a pair only if EACH endpoint ranks the other inside its
    * own top-m candidates — the reciprocal-nearest-neighbor filter that
    * strips hub artifacts from a near-dup graph (a promiscuous hub ranks
    * high for many nodes that it does not rank back). Classic mutual-kNN
    * graph construction, applied to the banded candidate set instead of
    * the full kNN (so the cost stays candidate-bounded).
    *
    * Output: (id_a, id_b, sim, rank_ab, rank_ba), id_a < id_b.
    * Deterministic: rank order (sim desc, neighbor id asc). Scale shape:
    * one per-node top-m window over the doubled candidate frame
    * (WindowGroupLimit pushes the heap map-side) and one self-equi-join
    * on the (src, dst) key. */
  def mutualRankFilter(pairs: DataFrame, m: Int): DataFrame = {
    require(m >= 1)
    import org.apache.spark.sql.expressions.Window
    val dir = pairs.select(col("id_a").as("src"), col("id_b").as("dst"),
        col("sim"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"),
        col("sim")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    val ranked = dir.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= m)
    ranked.as("f").join(ranked.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src") &&
          col("f.src") < col("f.dst"))
      .select(col("f.src").as("id_a"), col("f.dst").as("id_b"),
        col("f.sim").as("sim"), col("f.rnk").as("rank_ab"),
        col("r.rnk").as("rank_ba"))
  }
}
