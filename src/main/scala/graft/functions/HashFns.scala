package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable (engine-agnostic) hashing built on md5, for operators whose
  * results must be reproducible by the DuckDB oracle (which lacks xxhash64).
  * The xxhash64 SimHash ([[VectorFns.simHash]]) is the Spark-only fast
  * spelling; these md5 forms are the correctness-checkable ones.
  * Everything here is a composition of codegen'd built-ins — no UDFs.
  */
object HashFns {

  /** Lowercase-hex md5 of a string column's UTF-8 bytes. */
  def md5Hex(c: Column): Column = md5(c.cast("binary"))

  /** First `hexDigits` hex chars of md5 as a long — portable hash-to-int
    * (DuckDB: `('0x' || substr(md5(x), 1, n))::BIGINT`). */
  def md5Long(c: Column, hexDigits: Int = 8): Column =
    conv(substring(md5Hex(c), 1, hexDigits), 16, 10).cast("long")

  /** Hash-to-bucket in [0, buckets). */
  def md5Bucket(c: Column, buckets: Int): Column =
    pmod(md5Long(c, 4), lit(buckets.toLong))

  /** Mersenne prime 2^31−1: the MinHash permutation modulus. Keeps every
    * product a_k·h < 2^62, so the arithmetic is overflow-free int64 in BOTH
    * engines (DuckDB raises on BIGINT overflow rather than wrapping). */
  val MinHashP: Long = 2147483647L

  /** Fixed affine-permutation coefficients (a_k odd-ish, b_k), seeded and
    * deterministic — shared verbatim by [[minHashSig]] and the oracle SQL. */
  def minHashCoeffs(k: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(20260212L)
    Seq.fill(k)((rng.nextInt(Int.MaxValue - 1).toLong + 1L,
      rng.nextInt(Int.MaxValue).toLong))
  }

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
}
