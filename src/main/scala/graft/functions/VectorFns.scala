package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector scalar functions over `array<float>` columns, composed from
  * higher-order built-ins (zip_with / aggregate) so they run inside codegen
  * with no UDF boundary.
  *
  * Semantics follow the reference's Qdrant cosine index
  * (reference: PLATFORM-contextual-Chunking.py:137-144 —
  * VectorParams(size=384, distance=COSINE)). All arithmetic is promoted to
  * double with a strict left-to-right fold, which is deterministic across
  * partitions and matches a sequential oracle computation.
  */
object VectorFns {

  /** Dot product: sum_i a_i * b_i (double, left-to-right). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity in [-1, 1]; null if either vector is null, 0.0 if
    * either norm is 0 (the reference never indexes zero vectors, but a
    * 100 TB corpus will contain them). Backed by the fused codegen kernel
    * [[graft.expr.CosineSim]] — bitwise-identical accumulation order to
    * [[cosineHof]], ~50× cheaper per pair (no intermediate arrays). */
  def cosine(a: Column, b: Column): Column = graft.expr.VectorExprs.cosine(a, b)

  /** Higher-order-function spelling of [[cosine]] (zip_with + aggregate) —
    * kept as the no-custom-code reference implementation and spec cross-check. */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .otherwise(when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom))
  }

  /** Unit-normalize a vector (array<double> out); zero vector stays zero. */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, transform(a, x => x.cast("double")))
      .otherwise(transform(a, x => x.cast("double") / n))
  }

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

  /** SimHash of a token array: sign-aggregated bit fingerprint over
    * xxhash64(token), used for near-dup bucketing — codegen'd, no UDF. */
  def simHash(tokens: Column): Column =
    simHashFromHashes(transform(tokens, t => xxhash64(t)), 64)

  /** Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }
}
