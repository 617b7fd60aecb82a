package graft

import java.nio.file.Files

import graft.io.Csv
import graft.schema.Schemas

/** Declared-schema CSV source/sink round trip (S1/S2): quoted multiline
  * bodies, escaped quotes, partitioned writes. */
class CsvSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-csv").toString

  test("CSV round trip preserves quoted multiline bodies and schema") {
    val dir = tmpDir()
    val posts = Seq(
      ("reddit", "scala", "p1", "A title", "line one\nline two, with comma", 5L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "http://x", 2L),
      ("stack", "so", "p2", "Quote \" inside", null, 3L,
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "http://y", 1L))
      .toDF(Schemas.posts.fieldNames.toIndexedSeq: _*)
    Csv.write(posts, s"$dir/posts")
    val back = Csv.read(spark, s"$dir/posts", Schemas.posts)
    // CSV sources force nullable=true on every field; names+types must hold
    assert(back.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      Schemas.posts.fields.map(f => f.name -> f.dataType).toSeq)
    val m = back.collect().map(r => r.getString(2) ->
      ((r.getString(3), r.getString(4), r.getLong(5)))).toMap
    assert(m("p1")._2 == "line one\nline two, with comma" && m("p1")._3 == 5L)
    assert(m("p2")._1 == "Quote \" inside" && m("p2")._2 == null)
  }

  test("partitioned write creates partition dirs; catalog lists them") {
    val dir = tmpDir()
    val df = Seq(("reddit", "a", 1L), ("stack", "b", 2L), ("reddit", "c", 3L))
      .toDF("platform", "id_post", "score")
    Csv.writeParquet(df, s"$dir/wh/infos", partitionBy = Seq("platform"))
    val parts = new java.io.File(s"$dir/wh/infos").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts == Seq("platform=reddit", "platform=stack"))
    // partition pruning: reading one partition sees only its rows
    val reddit = spark.read.parquet(s"$dir/wh/infos").filter($"platform" === "reddit")
    assert(reddit.count() == 2)
  }
}
