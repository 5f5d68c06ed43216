package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM, built by the
  * engine's own factory so every suite runs the conf that ships. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.session(master = "local[4]", shufflePartitions = 4,
      appName = "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  def query(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sfDir)
}
