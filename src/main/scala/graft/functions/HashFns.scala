package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable (engine-agnostic) hashing built on md5, for operators whose
  * results must be reproducible by the DuckDB oracle (which lacks xxhash64).
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
    * deterministic — shared verbatim by the MinHash kernels and the oracle
    * SQL. */
  def minHashCoeffs(k: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(20260212L)
    Seq.fill(k)((rng.nextInt(Int.MaxValue - 1).toLong + 1L,
      rng.nextInt(Int.MaxValue).toLong))
  }
}
