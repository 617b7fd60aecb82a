package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites must
  * not stop it). Pinned to 4 cores whatever `SPARK_GRAFT_CPUS` says, so
  * partition-count-sensitive assertions see the same session everywhere. */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(cpus = 4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
