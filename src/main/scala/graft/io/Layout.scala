package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Physical data layout for scan efficiency at scale.
  *
  * The reference interchanges unsorted CSV (SURVEY.md §4.1), where every
  * query reads every byte. Parquet already gives column pruning and
  * row-group min/max statistics; LAYOUT decides whether those statistics
  * actually skip anything: a file whose key range spans the whole domain
  * skips nothing, while range-partitioned + sorted files have disjoint key
  * ranges, so a range predicate touches only the files that intersect it.
  * At 100 TB this is the difference between a full-corpus scan and reading
  * a few hundred megabytes.
  */
object Layout {

  /** A unique scratch-artifact path under the session's WAREHOUSE directory
    * (`spark.sql.warehouse.dir`) — the conventional shared-filesystem
    * location on configured clusters (its DEFAULT is a driver-local
    * `$PWD/spark-warehouse`, so cluster validity holds only when the
    * deployment points the warehouse at shared storage), unlike a
    * `java.io.tmpdir` path, which always names a different local disk on
    * every machine. Materialize-then-broadcast intermediates (e.g. a
    * persisted vocabulary head) belong here.
    *
    * The path is unique per call (reentrant under concurrent invocations)
    * and registered with the Hadoop filesystem's `deleteOnExit`, which
    * deletes RECURSIVELY when the JVM's filesystem cache closes — unlike
    * `File.deleteOnExit`, which silently skips non-empty directories, so
    * repeated invocations do not leak directories for the life of the
    * machine. Hadoop's `deleteOnExit` registers nothing (returning false)
    * when the path does not yet exist, so the directory is created first
    * and both booleans are asserted — a silent registration failure would
    * reintroduce the leak this helper exists to prevent. */
  def scratchArtifact(spark: SparkSession, prefix: String): String = {
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_scratch")
    val p = new org.apache.hadoop.fs.Path(root,
      prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.mkdirs(p), s"could not create scratch dir $p")
    require(fs.deleteOnExit(p), s"could not register $p for delete-on-exit")
    p.toString
  }

  /** Write `df` range-partitioned into ~`numFiles` files, each sorted by
    * `sortCol`: file key ranges are disjoint (up to boundary duplicates of
    * the range sampler), and row groups inside each file are locally
    * ordered, so both file-level and row-group-level min/max pruning bite
    * on `sortCol` predicates. */
  def writeRangeSorted(df: DataFrame, path: String, sortCol: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(path)

  /** Write `df` Z-ordered on two key columns: rows are range-partitioned
    * and sorted by their Morton curve position, so each file covers a
    * small rectangle in (colA, colB) space and min/max statistics prune
    * on predicates over EITHER column — a single-key sort only ever
    * prunes its own column.
    *
    * Both keys are first normalized to 256 equal-width buckets over their
    * [min, max] span (a broadcast one-row aggregate, no driver collect):
    * raw interleaving would let the wider-domain column's high bits
    * dominate the curve and degenerate into a single-key sort. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{broadcast, expr, max, min}
    val bounds = df.agg(
      min(col(colA)).as("__amin"), max(col(colA)).as("__amax"),
      min(col(colB)).as("__bmin"), max(col(colB)).as("__bmax"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__za",
        expr(s"(($colA - __amin) * 256) div (__amax - __amin + 1)"))
      .withColumn("__zb",
        expr(s"(($colB - __bmin) * 256) div (__bmax - __bmin + 1)"))
      .withColumn("__z", graft.expr.ZOrder.zValue(col("__za"), col("__zb")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__za", "__zb", "__amin", "__amax", "__bmin", "__bmax")
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` as a HASH-BUCKETED, per-bucket-sorted managed table:
    * `numBuckets` file groups keyed by `hash(key) % numBuckets` (Spark's
    * bucketing spec), registered in the session catalog under `table`.
    * This is the CO-LOCATED-JOIN layout: a join or aggregation on `key`
    * between any two tables bucketed the same way (same key, same bucket
    * count) needs NO Exchange at read time — the scan itself reports the
    * bucket partitioning, so the shuffle is paid ONCE here at write time
    * and amortized over every subsequent join against the table
    * (BucketingSpec proves the join plan is exchange-free on both
    * sides). The explicit `repartition(numBuckets, key)` matters:
    * `bucketBy` alone does NOT shuffle — every write task emits its own
    * file per bucket it holds rows for, so a 10k-partition source with
    * 1k buckets would explode into up to 10M small files; pre-shuffling
    * by the bucket expression gives ONE file per bucket (spec-asserted).
    * The sort-merge join's per-partition Sorts still REMAIN at read:
    * Spark 3+ stopped propagating bucket sort order from the scan by
    * default (opt-in is the legacy `bucketedTableScan.outputOrdering`
    * flag, which single-file buckets make safe) — those sorts are
    * in-partition and network-free, and the `sortBy` still buys
    * row-group min/max pruning for point/range predicates on `key`
    * within each bucket. MEASURED (r19, BASELINE.md round-19 record, sf0.1
    * orders ⋈ lineitem, broadcast off, interleaved min-of-4): plain
    * parquet SMJ 0.515 s / 4 Exchanges / 4 Sorts → bucketed 0.297 s /
    * 0 Exchanges / 4 Sorts → bucketed + outputOrdering flag 0.277 s /
    * 0 Exchanges / 0 Sorts. FLAG DECISION: turn the flag ON for
    * sessions reading tables written by THIS op — the one-file-per-
    * bucket guarantee above is exactly the condition that makes the
    * propagated ordering sound (with several files per bucket the scan
    * concatenates sorted runs, which is NOT sorted — the reason Spark
    * demoted the behavior to a legacy flag). It stays un-set in the
    * engine defaults because it is a session-level statement about
    * every bucketed table the session reads, not just ours. At 100 TB this is the standard layout for a fact table
    * repeatedly joined on one key (orders ⋈ lineitem, doc ⋈ annotations):
    * the dominant cost of every downstream join — the shuffle of the big
    * side — disappears.
    *
    * Managed-table caveat (same stance as [[scratchArtifact]]): the files
    * land under `spark.sql.warehouse.dir`, so cluster validity holds when
    * the deployment points the warehouse at shared storage. Bucket
    * pruning/co-location additionally requires reading through the
    * catalog (`spark.table(table)`), not `spark.read.parquet` on the
    * files — path reads see plain parquet and re-shuffle. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int): Unit =
    df.repartition(numBuckets, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
