package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe: every main and the shared test session
  * build through it, so a number from one tool lines up with another's.
  * `local[cpus]` with one shuffle partition per core, UTC session time
  * zone, no UI, WARN logging. `cpus` is `$SPARK_GRAFT_CPUS`, else 4. */
object LocalSession {
  def apply(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
