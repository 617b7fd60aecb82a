package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFns, VectorFns}

/** Embedding + clustering — the reference's "contextual chunking" core
  * (reference: PLATFORM-contextual-Chunking.py:52-94: SentenceTransformer
  * embedding + HDBSCAN labels).
  *
  * The embedder here is the deterministic hashing stand-in SURVEY.md §2.8 O8
  * calls for (no model downloads in this environment): text → token hash
  * buckets → L2-normalized count vector. In production the same operator
  * slot hosts a real model via mapPartitions; the engine-side contract
  * (column in, fixed-dim array<double> out, deterministic per text) is
  * identical.
  */
object Embed {

  /** O8 — deterministic hashing embedder: whitespace tokens hashed into
    * `dim` buckets (portable md5 bucket hash), counts L2-normalized and
    * rounded to 6 dp. Pure codegen'd expression — runs inside the scan
    * stage, no shuffle, no UDF. */
  def hashingEmbed(c: Column, dim: Int): Column = {
    val toks = split(Dedup.normalized(c), " ")
    val buckets = transform(toks, t => HashFns.md5Bucket(t, dim))
    val counts = transform(sequence(lit(0), lit(dim - 1)),
      i => size(filter(buckets, b => b === i.cast("long"))).cast("double"))
    transform(VectorFns.normalize(counts), x => round(x, 6))
  }

  /** O11 with the reference's NOISE semantics — density clustering over an
    * embedding column (reference: PLATFORM-contextual-Chunking.py:83-114 —
    * HDBSCAN, min_cluster_size 5, noise label −1): build the
    * cosine-threshold similarity graph with sign-RP LSH (candidate pairs
    * only within LSH buckets — an equi-join, the 100 TB path), take
    * connected components as density clusters, and label every member of a
    * component smaller than `minClusterSize` as noise (cluster = −1).
    *
    * Unlike HDBSCAN itself (mutual-reachability core distances no other
    * engine reproduces) every step here is exact deterministic arithmetic,
    * so the whole operator hash-checks against a SQL oracle — this is the
    * clustering family's oracle-covered representative. */
  def densityClusters(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]], bitsPerTable: Int, threshold: Double,
      minClusterSize: Int): DataFrame = {
    val pairs = Similarity.rpLshNearDup(df, idCol, vecCol, planes, bitsPerTable, threshold)
    Components.dedupClusters(df.select(col(idCol)), idCol, pairs, "id_a", "id_b")
      .select(col(idCol),
        when(col("comp_size") < minClusterSize, lit(-1L))
          .otherwise(col("component").cast("long")).as("cluster"),
        (col("comp_size") < minClusterSize).as("is_noise"))
  }

  /** Embedding-batch sanity gate: flag vectors whose squared L2 norm falls
    * outside the Tukey fences `[q1 − 1.5·IQR, q3 + 1.5·IQR]` of the
    * corpus — the standard pre-index health check (an embedding whose
    * norm collapses toward 0 or explodes is a failed encode, and cosine
    * silently renormalizes it into the index).
    *
    * Exactness: norms are integer — `Σ quantize(x)²` longs
    * (the q47 quantization convention) — and the quartiles come from
    * [[Quantiles.profile]]'s histogram spelling (bounded by the value
    * domain, never a per-group value buffer). For p = .25/.75 the type-7
    * interpolation and the fence arithmetic are all multiples of 0.25 at
    * magnitudes far under 2^53, so every double here is EXACT and the
    * verdict is engine-bitwise (DuckDB mirrors via quantile_cont).
    *
    * Output per vector: (id, norm2_q, is_low, is_high). */
  def normOutlierGate(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val n2 = df
      .select(col(idCol), explode(col(vecCol)).as("v"))
      .withColumn("q", VectorFns.quantize(col("v")))
      .groupBy(col(idCol))
      .agg(sum(col("q") * col("q")).as("norm2_q"))
      .localCheckpoint(false) // feeds the fence pass AND the verdict join
    // quartiles via the two-phase rank-ceil order statistics: squared
    // norms are nearly ALL-DISTINCT, so the histogram-window spelling
    // (Quantiles.profile over one constant group) would sort the whole
    // per-vector frame on one task — the q216 class. Rank-ceil (type-1)
    // vs the old interpolated (type-7) quartiles moves a fence by less
    // than one observed value; Tukey's 1.5·IQR rule is an estimator
    // heuristic either way, and this spelling is integer-exact.
    val fences = Quantiles.orderStatistics(n2, "norm2_q", idCol, Seq(25, 75))
      .agg(min(when(col("p") === 25L, col("norm2_q"))).as("__q1"),
        min(when(col("p") === 75L, col("norm2_q"))).as("__q3"))
    n2.crossJoin(broadcast(fences)) // 1 row — statically bounded
      .select(col(idCol), col("norm2_q"),
        (col("norm2_q").cast("double") <
          col("__q1") - lit(1.5) * (col("__q3") - col("__q1"))).as("is_low"),
        (col("norm2_q").cast("double") >
          col("__q3") + lit(1.5) * (col("__q3") - col("__q1"))).as("is_high"))
  }

  /** Label-centroid separation report — the embedding-space class-QA a
    * weak-label corpus ships: per label pair (a < b), the cosine between
    * the labels' integer centroids, next to each side's member count and
    * within-label dispersion (mean squared distance to own centroid). A
    * healthy label space has inter-centroid cosines well under 1 and
    * dispersions of the same order across labels; a collapsed pair
    * (cos → 1) or a blown-up label flags annotation noise.
    *
    * Integer discipline: vectors quantize to [[VectorFns.quantize]]
    * longs; centroids use the exact [[VectorFns.floorMean]];
    * dispersion is a truncating integer mean of Σ_d (q−c)²; only the
    * final cosine is FP — `round(num/sqrt(qa·qb), 6)`, the q47
    * convention (sqrt is IEEE-exact, the int64→double casts identical in
    * both engines).
    *
    * Output: (label_a, label_b, n_a, n_b, cos6, within_a, within_b).
    * Scale shape: two map-combined aggregates over the exploded frame
    * (centroid + dispersion, keyed by label), then all pair arithmetic
    * on the |labels|·dim centroid frame — corpus touched twice,
    * never self-joined. */
  def labelCentroidSeparation(df: DataFrame, idCol: String,
      labelCol: String, vecCol: String): DataFrame = {
    val pts = df.select(col(labelCol).as("__l"), col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col("__l"), col("__id"), col("d"),
        VectorFns.quantize(col("x")).as("q"))
      .localCheckpoint(false)
    val cent = pts.groupBy(col("__l"), col("d"))
      .agg(sum(col("q")).as("__s"), count(lit(1)).as("__n"))
      .select(col("__l"), col("d"),
        VectorFns.floorMean(col("__s"), col("__n")).as("c"),
        col("__n").as("n"))
    val within = pts.join(cent.select(col("__l"), col("d"), col("c")),
        Seq("__l", "d"))
      .groupBy(col("__l"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("__sq"),
        countDistinct(col("__id")).as("n_members"))
      .select(col("__l"), expr("__sq div n_members").as("within"),
        col("n_members"))
    val pairs = cent.as("a").join(cent.as("b"),
        col("a.d") === col("b.d") && col("a.__l") < col("b.__l"))
      .groupBy(col("a.__l").as("label_a"), col("b.__l").as("label_b"))
      .agg(sum(col("a.c") * col("b.c")).as("__num"),
        sum(col("a.c") * col("a.c")).as("__qa"),
        sum(col("b.c") * col("b.c")).as("__qb"))
      // greatest(…,1): a label whose floor-mean rounds to the zero
      // vector (symmetric noise at scale) defines cos = 0, not a
      // divide-by-zero — num is 0 whenever either norm is
      .withColumn("cos6", round(col("__num").cast("double") /
        sqrt(greatest(col("__qa") * col("__qb"), lit(1L)).cast("double")), 6))
    pairs
      .join(within.select(col("__l").as("label_a"),
        col("within").as("within_a"), col("n_members").as("n_a")),
        Seq("label_a"))
      .join(within.select(col("__l").as("label_b"),
        col("within").as("within_b"), col("n_members").as("n_b")),
        Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("cos6"), col("within_a"), col("within_b"))
  }
}
