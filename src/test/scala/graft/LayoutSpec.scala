package graft

import java.nio.file.Files

import graft.io.Layout

/** Layout contract: scratch artifacts land under the warehouse, and a
  * dynamic partition overwrite backfills one partition in place. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("scratchArtifact creates a unique, existing dir under the warehouse") {
    val a = Layout.scratchArtifact(spark, "spec")
    val b = Layout.scratchArtifact(spark, "spec")
    assert(a != b, "scratch paths must be unique per call")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    assert(a.stripPrefix("file:").startsWith(warehouse),
      s"$a not under warehouse $warehouse")
    // the dir must EXIST at registration time: Hadoop deleteOnExit
    // silently refuses to register a non-existent path, which would leak
    // the artifact forever
    val fs = new org.apache.hadoop.fs.Path(a)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(a)))
    // and it is usable as a parquet sink right away
    spark.range(3).write.mode("overwrite").parquet(a)
    assert(spark.read.parquet(a).count() == 3)
  }

  test("dynamic partition overwrite backfills one partition without touching the rest") {
    val dir = Files.createTempDirectory("graft_backfill").toString
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((1L, "day1", "v1"), (2L, "day2", "v1"), (3L, "day3", "v1"))
        .toDF("id", "day", "ver")
        .write.partitionBy("day").mode("overwrite").parquet(s"$dir/t")
      // backfill ONLY day2: static overwrite would drop day1/day3; dynamic
      // replaces just the partitions present in the written frame — the
      // idempotent-backfill primitive every batch pipeline needs
      Seq((2L, "day2", "v2"), (4L, "day2", "v2")).toDF("id", "day", "ver")
        .write.partitionBy("day").mode("overwrite").parquet(s"$dir/t")
      val out = spark.read.parquet(s"$dir/t")
        .select($"id", $"day", $"ver").as[(Long, String, String)].collect().toSet
      assert(out == Set((1L, "day1", "v1"), (3L, "day3", "v1"),
        (2L, "day2", "v2"), (4L, "day2", "v2")), out)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
