package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (`tools/check_oracle.py`). Exits 1, naming them, when any query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — local iteration on a
    // subset; the driver's two-arg invocation dumps everything
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = LocalSession()
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.defs.filter(d => only.forall(_.exists(d.name.startsWith))))
    writeOracleJson(outDir, SparkEntry.oracleSql)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] failed ${failed.size}: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `<outDir>/<name>` as parquet and returns
    * the names of the queries that threw. A failure does not stop the
    * loop, so one broken query cannot hide the rest. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      defs: Seq[QueryDef]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    defs.flatMap { d =>
      try {
        d.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${d.name}")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
        Some(d.name)
      }
    }
  }

  /** `<outDir>/oracle_sql.json`: one name → oracle SQL object, the file
    * the DuckDB oracle compare (`tools/check_oracle.py`) reads. */
  def writeOracleJson(outDir: String, sql: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}"))

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in oracle SQL would otherwise make the
    * consumer's json.load fail and silently zero the correctness check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
