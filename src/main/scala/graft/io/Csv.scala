package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV source/sink with DECLARED schemas — the reference's interchange
  * format, minus its two scalability flaws.
  *
  * The reference reads CSV with `header=True, inferSchema=True,
  * multiLine=True, quote='"', escape='"'` at every stage boundary
  * (reference: REDDIT-Nettoyage-Posts.py:37-46 and 8 more sites) and writes
  * by collecting the whole table to the driver (`toPandas()` → MinIO
  * put_object, reference: REDDIT-Nettoyage-Posts.py:63-84 — 8 sites).
  * Here: schema is explicit (no inference pass, no type drift) and writes
  * are executor-side distributed `df.write` — nothing touches the driver.
  *
  * Scale note: `multiLine=true` makes a CSV file non-splittable (a quoted
  * newline can cross any byte boundary), so one 100 GB file = one task.
  * Keep it for parity with quoted bodies, but ingest should land MANY
  * moderate files (the writers below do — one per partition), after which
  * parallelism is restored. Parquet remains the preferred interchange
  * (see [[Tables]]).
  */
object Csv {

  /** Reference-compatible read options (quoted multiline bodies, escaped
    * quotes, UTF-8). */
  val referenceOptions: Map[String, String] = Map(
    "header" -> "true",
    "multiLine" -> "true",
    "quote" -> "\"",
    "escape" -> "\"",
    "encoding" -> "UTF-8")

  /** S1 — CSV scan with an explicit schema. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.options(referenceOptions).schema(schema).csv(path)

  /** S2/S8 — distributed CSV sink, optionally partitioned (e.g. by theme —
    * the reference's bucket/theme prefix namespace becomes partition
    * directories, giving partition pruning for free). */
  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").options(referenceOptions - "multiLine")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(path)
  }

  /** Parquet sink — the engine's preferred interchange (embedded schema,
    * column pruning, predicate pushdown, splittable). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}
