package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build a k× scaled copy of a fixture dir by unioning id-offset copies of
  * the fact tables (dimensions stay single — that's what dimensions do).
  * Foreign keys into dimensions are left untouched so joins stay valid;
  * primary/grouping keys get a per-copy offset so group counts scale
  * linearly instead of collapsing onto the same keys. Used for scaling
  * sanity runs (BASELINE.md), not for correctness gates.
  *
  * Optional 4th arg `perturb`: make the copies DISTINCT content, not
  * clones — each copy's embeddings are cyclically rotated by the copy
  * index (norms and within-copy pairwise similarities are exactly
  * preserved, cross-copy similarities collapse to noise) and each copy's
  * document text gets a per-copy salt token appended. Clone mode (the
  * default) models an adversarially duplicate-heavy corpus: every
  * near-dup/clustering candidate generator sees k× copies of every point
  * in the same bucket, so PAIR work grows ~k² — the regime where the
  * production answer is exact-dedup-first, not a faster join. Perturb mode
  * models the realistic "k× more data" corpus: the similarity graph
  * becomes k disjoint copies of the 1× graph (k× nodes, k× edges, same
  * density), which is the right fixture for reading off how graph
  * algorithms (LSH buckets, connected components) scale with DATA rather
  * than with duplication.
  *
  * Optional mode `zipf` (supersedes `perturb`; implies its id-offset and
  * embedding-rotation behavior): re-draw every document token from a
  * 20,000-word ZIPFIAN vocabulary, seeded per (scaled doc id, position)
  * — the inverse-CDF draw `rank = ⌊e^(u·ln(V+1))⌋` gives p(rank) ∝
  * 1/rank. The base fixture's ~31-word pool makes every posting a heavy
  * hitter (df 75–83% per word — whole-doc; 31–35% per passage), which is
  * the DEGENERATE regime for inverted-index retrieval: at k× every
  * postings list is corpus-sized. The zipf remap restores the
  * distribution BM25/PRF/RRF are designed for — a short stopword-like
  * head, a long informative tail — so the retrieval family's 64× proofs
  * measure the deploy shape, not the adversarial one. Generation-only
  * randomness: the remapped text lands in parquet that both engines
  * read, so the hash-compare stays exact. */
object GenScale {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, kStr) = (args(0), args(1), args(2))
    val k = kStr.toInt
    val zipf = args.length > 3 && args(3) == "zipf"
    val perturb = zipf || (args.length > 3 && args(3) == "perturb")
    val off = 100000000L
    val spark = graft.LocalSession()

    def scaled(df: DataFrame, idCols: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { i =>
        perCopy(idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * off))), i)
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dimensions: copied through unscaled
    Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
      write(graft.io.Tables.load(spark, sfDir, n), n)
    }
    write(scaled(graft.io.Tables.orders(spark, sfDir), Seq("o_orderkey")), "orders")
    write(scaled(graft.io.Tables.lineitem(spark, sfDir), Seq("l_orderkey")), "lineitem")
    write(scaled(graft.io.Tables.events(spark, sfDir), Seq("event_id", "user_id")), "events")
    // perturb: per-copy salt token (distinct text per copy) / cyclic
    // embedding rotation (within-copy sims preserved, cross-copy collapse)
    // zipf: every token re-drawn from a 20k-word Zipfian vocabulary via
    // the inverse log-CDF, seeded by (scaled doc_id, position, original
    // token) — the remap replaces the salt (copies are already distinct
    // content). trim-then-split matches the engines' tokenizer (a leading
    // blank must not mint a phantom vocabulary word), and blank tokens
    // are dropped before remapping so token counts track the base shape.
    val V = 20000
    val zipfText: (DataFrame, Int) => DataFrame = (d, _) =>
      d.withColumn("text", array_join(transform(
          filter(split(trim(col("text")), "\\s+"), t => t =!= ""),
          (t, j) => concat(lit("w"),
            least(greatest(floor(exp(
              (pmod(xxhash64(col("doc_id"), j, t), lit(1000000L))
                .cast("double") / 1e6) * math.log(V + 1.0))), lit(1.0)),
              lit(V.toDouble)).cast("long").cast("string"))),
          " "))
        .withColumn("n_chars", length(col("text")))
    val saltText: (DataFrame, Int) => DataFrame = (d, i) =>
      if (zipf) zipfText(d, i)
      else if (!perturb || i == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" copysalt$i")))
        .withColumn("n_chars", col("n_chars") + lit(s" copysalt$i".length))
    val rotateEmb: (DataFrame, Int) => DataFrame = (d, i) =>
      if (!perturb || i == 0) d
      else {
        // rotation derived from the ACTUAL array length — a fixture with a
        // different embedding dim rotates correctly instead of truncating
        val dim = size(col("embedding"))
        val r = lit(i) % dim
        d.withColumn("embedding",
          concat(slice(col("embedding"), r + 1, dim - r), slice(col("embedding"), lit(1), r)))
      }
    write(scaled(graft.io.Tables.documents(spark, sfDir), Seq("doc_id"), saltText), "documents")
    write(scaled(graft.io.Tables.embeddings(spark, sfDir), Seq("vec_id"), rotateEmb), "embeddings")
    println(s"[genscale] wrote ${k}x of $sfDir to $outDir")
    spark.stop()
  }
}
