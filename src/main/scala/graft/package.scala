import org.apache.spark.sql.{DataFrame, SparkSession}

package object graft {

  /** A registered query: session and fixture directory in, result out. */
  type Q = (SparkSession, String) => DataFrame
}
