package graft

/** Local stand-in for the driver's smoke check: runs SparkEntry.entry and
  * prints the row count (must be > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = 40)
    println(s"entry rows=${df.count()}")
    spark.stop()
  }
}
