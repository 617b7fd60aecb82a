package graft

import java.nio.file.Files

/** `Verify.dump` keeps going past a throwing query and names it, so a run
  * with a broken query cannot pass by omission. */
class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("dump writes the good query and returns the name of the one that threw") {
    val out = Files.createTempDirectory("graft-verify").toString
    val defs = Seq(
      QueryDef("q_bad", (_, _) => throw new IllegalStateException("boom"),
        "SELECT 1"),
      QueryDef("q_good", (s, _) => s.range(3).toDF("id"), "SELECT 1"))
    assert(Verify.dump(spark, sfDir, out, defs) == Seq("q_bad"))
    assert(spark.read.parquet(s"$out/q_good").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L))
    assert(!new java.io.File(s"$out/q_bad").exists())
  }
}
