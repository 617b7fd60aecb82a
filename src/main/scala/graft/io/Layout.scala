package graft.io

import org.apache.spark.sql.SparkSession

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
}
