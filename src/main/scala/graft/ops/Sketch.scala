package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable streaming sketches — the aggregation tools a 100 TB corpus
  * sweep actually runs when exact per-key state would not fit anywhere:
  * count-min (frequency estimates in O(d·w) memory) and HyperLogLog
  * (distinct counts in O(m) registers). Both are build-once-merge-anywhere:
  * the sketch frames are tiny keyed aggregates, so partial aggregation
  * combines them map-side and re-sharding the corpus never changes the
  * result.
  *
  * Determinism: every hash is the md5-prefix integer bridge the MinHash /
  * SimHash oracles already use (`('0x' || substr(md5(s),1,8))::BIGINT` in
  * DuckDB, `conv(substring(md5(s),1,8),16,10)` here), so sketch contents —
  * not just their estimates — hash-compare across engines. The HLL bias
  * corrections use driver-computed literal tables (the signTestTable
  * discipline): zero libm calls at run time.
  */
object Sketch {

  /** 32-bit md5-prefix hash of `s`, seeded by `row` (one independent hash
    * function per sketch row). */
  private[graft] def md5Hash32(s: Column, row: Column): Column =
    conv(substring(md5(concat(row.cast("string"), lit(":"), s)), 1, 8), 16, 10)
      .cast("long")

  /** Count-min sketch over a token column: `depth` independent hash rows ×
    * `width` cells; cell (i, h_i(t) mod width) accumulates every
    * occurrence of t. Output (row, cell, cnt) — at most depth·width rows
    * REGARDLESS of corpus size, the whole point: the token stream
    * collapses map-side into a frame that broadcasts anywhere.
    *
    * Standard error bound: est − true ≤ 2N/width with probability
    * 1 − 2^−depth (Cormode & Muthukrishnan 2005). */
  def countMinSketch(tokens: DataFrame, tokenCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1)
    tokens
      .select(col(tokenCol).as("__t"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col("row").cast("long").as("row"),
        (md5Hash32(col("__t"), col("row")) % width).as("cell"))
      .groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch for each candidate token: the estimate is the
    * MIN over the depth rows (collisions only ever inflate). Candidates
    * absent from the sketch entirely read 0. Output: (tokenCol,
    * cms_count). Scale shape: |candidates|·depth probe rows equi-joined
    * onto the (≤ depth·width)-row sketch — broadcast-sized by
    * construction. */
  def cmsEstimate(cms: DataFrame, candidates: DataFrame, tokenCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1)
    candidates
      .select(col(tokenCol),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col(tokenCol), col("row").cast("long").as("row"))
      .withColumn("cell", md5Hash32(col(tokenCol), col("row")) % width)
      .join(cms, Seq("row", "cell"), "left")
      .groupBy(col(tokenCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))
  }

  /** The SPARSE register aggregation of [[hllRegisters]] — only occupied
    * (group, reg) cells, each at its max rank. This is the exact shape a
    * Structured Streaming complete-mode aggregation maintains (bounded
    * state: ≤ |groups|·2^b rows — the whole point of a sketch), so the
    * streaming parity test drives THIS stage and densifies at read time. */
  def hllOccupiedRegisters(tokens: DataFrame, groupCol: String,
      tokenCol: String, b: Int): DataFrame = {
    require(b >= 4 && b <= 16)
    val tailBits = 32 - b
    val h = md5Hash32(col(tokenCol), lit(0))
    val reg = shiftrightunsigned(h, tailBits).as("reg")
    val tail = (h.bitwiseAND(lit((1L << tailBits) - 1L))).as("__tail")
    // rank = tailBits + 1 − bit_length(tail); bit_length via the base-2
    // string length (conv), zero-guarded — no libm
    tokens.select(col(groupCol), reg, tail)
      .withColumn("__rank",
        when(col("__tail") === 0L, lit((tailBits + 1).toLong))
          .otherwise(lit((tailBits + 1).toLong) -
            length(conv(col("__tail"), 10, 2)).cast("long")))
      .groupBy(col(groupCol), col("reg"))
      .agg(max(col("__rank")).as("mreg"))
  }

  /** HyperLogLog registers over a token column, grouped: register index =
    * top `b` bits of the 32-bit md5-prefix hash, register value = max over
    * occurrences of rank(tail) where rank = (leading zeros of the
    * (32−b)-bit tail) + 1 ∈ [1, 32−b+1]. ALL 2^b registers are
    * materialized per group (empty ones as 0) so the estimator reads a
    * complete dense sketch. Output: (groupCol, reg, mreg).
    *
    * Scale shape: the occurrence stream collapses map-side into
    * |groups|·2^b max-aggregated rows; the dense completion is a join
    * against a 2^b-row literal frame. */
  def hllRegisters(tokens: DataFrame, groupCol: String, tokenCol: String,
      b: Int): DataFrame = {
    require(b >= 4 && b <= 16)
    val m = 1 << b
    val occ = hllOccupiedRegisters(tokens, groupCol, tokenCol, b)
    val dense = tokens.select(col(groupCol)).distinct()
      .select(col(groupCol),
        explode(sequence(lit(0L), lit((m - 1).toLong))).as("reg"))
    dense.join(occ, Seq(groupCol, "reg"), "left")
      .select(col(groupCol), col("reg"),
        coalesce(col("mreg"), lit(0L)).as("mreg"))
  }

  /** alpha_m in ppm for the standard HLL estimator (Flajolet et al. 2007:
    * alpha_m = 0.7213/(1 + 1.079/m) for m ≥ 128), floor(x·1e6 + 0.5). */
  def hllAlphaE6(m: Int): Long = {
    require(m >= 128, "alpha approximation holds for m >= 128")
    math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6 + 0.5).toLong
  }

  /** Linear-counting table m·ln(m/V) for V = 1..m, floor(x + 0.5) —
    * driver-computed literals, the small-range correction HLL applies
    * when empty registers remain. */
  def linearCountTable(m: Int): Seq[(Long, Long)] =
    (1 to m).map(v =>
      (v.toLong, math.floor(m * math.log(m.toDouble / v) + 0.5).toLong))

  /** HLL cardinality estimate per group from [[hllRegisters]] output,
    * with the classic small-range correction: raw harmonic estimate
    * `E = alpha·m²·2^R div Σ 2^(R−M_j)` (R = 32−b+1, all-BIGINT — the
    * 2^R scaling makes every summand integral), switched to linear
    * counting `m·ln(m/V)` (literal table) when V empty registers remain
    * and E ≤ 5m/2. No large-range correction: the 32-bit hash caps this
    * at corpora ≲ 10^8 distinct, documented contract. Output: (groupCol,
    * m, n_zero, raw_e, hll_estimate). */
  def hllEstimate(registers: DataFrame, groupCol: String, b: Int): DataFrame = {
    val m = 1 << b
    val r = 32 - b + 1
    val alpha = hllAlphaE6(m)
    val spark = registers.sparkSession
    import spark.implicits._
    val lc = broadcast(linearCountTable(m).toDF("__v", "__lc"))
    val agg = registers.groupBy(col(groupCol))
      .agg(count(lit(1)).as("m"),
        sum(when(col("mreg") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum(expr(s"shiftleft(1L, cast($r - mreg AS int))")).as("__s"))
      .withColumn("raw_e",
        expr(s"(${alpha}L * ${m.toLong * m}L * ${1L << r}L) div __s div 1000000L"))
    agg.join(lc, col("n_zero") === col("__v"), "left")
      .withColumn("hll_estimate",
        when(col("n_zero") > 0L && col("raw_e") <= lit(5L * m / 2),
          col("__lc")).otherwise(col("raw_e")))
      .select(col(groupCol), col("m"), col("n_zero"), col("raw_e"),
        col("hll_estimate"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group: keep the k
    * smallest DISTINCT 32-bit hashes of the value column; the estimator
    * is `(k−1)·2^32 div h_k` (Bar-Yossef et al. 2002) with h_k the k-th
    * smallest. Groups that never accumulate k distinct hashes are exact
    * by construction (the sketch holds every value) and report the seen
    * count. Output: (groupCol, n_seen, kth_hash, kmv_estimate).
    *
    * Scale shape: one (group, hash) distinct-style aggregate (map-side
    * combined), one per-group window bounded by k after an early
    * rank-filter — the bottom-k frame is |groups|·k rows, mergeable by
    * re-running min-k on a union of sketches. */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__h").asc)
    df.select(col(groupCol), md5Hash32(col(valueCol), lit(0)).as("__h"))
      .groupBy(col(groupCol), col("__h")).agg(count(lit(1)).as("__c"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_seen"), max(col("__h")).as("kth_hash"))
      .withColumn("kmv_estimate",
        when(col("n_seen") < k.toLong, col("n_seen"))
          .otherwise(
            expr(s"(${k - 1}L * ${1L << 32}L) div greatest(kth_hash, 1L)")))
  }

  /** Fixed-width histogram sketch with quantile reads — the mergeable
    * quantile state a 100 TB profile keeps per shard (contrast
    * [[Quantiles.profile]], which is exact but needs the full value
    * multiset): counts per `binWidth`-wide bin, and for each requested
    * percentile the UPPER EDGE of the first bin whose cumulative count
    * reaches `ceil`-wise `cum·100 ≥ q·n`. The sketch read overestimates
    * by at most one bin width — the audit columns carry the exact
    * percentile value (rank `ceil(q·n/100)` in value order) next to the
    * sketch's edge so the error is visible. Values must be non-negative
    * integers. Output: (groupCol, n_values, n_bins, then per q:
    * sketch_p<q>, exact_p<q>). */
  def histogramQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      binWidth: Long, qs: Seq[Int]): DataFrame = {
    require(binWidth >= 1 && qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100))
    val v = df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
    val wv = Window.partitionBy(col(groupCol)).orderBy(col("__v").asc)
    val wg = Window.partitionBy(col(groupCol))
    val exactCols = max(col("__n")).as("n_values") +:
      qs.map(q => min(when(col("__r") * 100L >= col("__n") * q,
        col("__v"))).as(s"exact_p$q"))
    val exact = v
      .withColumn("__r", row_number().over(wv).cast("long"))
      .withColumn("__n", count(lit(1)).over(wg))
      .groupBy(col(groupCol))
      .agg(exactCols.head, exactCols.tail: _*)
    val wb = Window.partitionBy(col(groupCol)).orderBy(col("__b").asc)
    val hist = v.select(col(groupCol), expr(s"__v div $binWidth").as("__b"))
      .groupBy(col(groupCol), col("__b")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum",
        sum(col("__c")).over(wb.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(wg))
    val skCols = count(lit(1)).as("n_bins") +:
      qs.map(q => min(when(col("__cum") * 100L >= col("__n") * q,
        (col("__b") + 1L) * binWidth)).as(s"sketch_p$q"))
    val sk = hist.groupBy(col(groupCol)).agg(skCols.head, skCols.tail: _*)
    exact.join(sk, Seq(groupCol))
      .select((col(groupCol) +: col("n_values") +: col("n_bins") +:
        qs.flatMap(q => Seq(col(s"sketch_p$q"), col(s"exact_p$q")))): _*)
  }

  /** Merge all groups' HLL register sets into ONE register set — the
    * coordinator step of the sketch contract: per-shard (or per-source)
    * sketches collapse by register-wise max into the sketch OF THE UNION,
    * with no re-scan of any shard. Output matches [[hllRegisters]]'s
    * shape with the group column replaced by the literal `mergedLabel`,
    * so [[hllEstimate]] reads it unchanged.
    *
    * Scale shape: |groups|·2^b rows in, 2^b rows out, one map-combined
    * max — the frame never touches the corpus. */
  def hllMergeAll(registers: DataFrame, groupCol: String,
      mergedLabel: String = "merged"): DataFrame =
    registers.groupBy(col("reg"))
      .agg(max(col("mreg")).as("mreg"))
      .select(lit(mergedLabel).as(groupCol), col("reg"), col("mreg"))

  /** Per-group MinHash signature as `numHashes` min-aggregated columns
    * over the md5-bridge token hashes — the corpus-level signature two
    * releases / sources compare for set overlap without materializing
    * token sets. Returns (groupCol, sig: array of numHashes mins). */
  def minHashSignature(df: DataFrame, groupCol: String, valueCol: String,
      numHashes: Int): DataFrame = {
    val coeffs = graft.functions.HashFns.minHashCoeffs(numHashes)
    val hb = md5Hash32(col(valueCol), lit(0))
      .mod(graft.functions.HashFns.MinHashP).as("__hb")
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(expr(s"($a * __hb + $b) % ${graft.functions.HashFns.MinHashP}"))
        .as(s"__m$i")
    }
    df.select(col(groupCol), hb)
      .groupBy(col(groupCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(groupCol),
        array(coeffs.indices.map(i => col(s"__m$i")): _*).as("sig"))
  }
}
