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

  /** The events fixture as (ts, event_type) in (ts, event_id) order, or
    * shuffled by the multiplicative hash of event_id (reproducible,
    * uncorrelated with ts) for the arrival-order replays.
    */
  def typedEvents(shuffled: Boolean): Array[(java.sql.Timestamp, String)] = {
    import org.apache.spark.sql.functions.{asc_nulls_first, col}
    import spark.implicits._
    val rows = graft.ops.tbl(spark, sfDir, "events")
      .select(col("ts"), col("event_type"), col("event_id"))
      .orderBy(asc_nulls_first("ts"), asc_nulls_first("event_id"))
      .as[(java.sql.Timestamp, String, Long)].collect()
    (if (shuffled) rows.sortBy(r => (r._3 % 1000003L) * 2654435761L % 4294967296L)
     else rows).map(r => (r._1, r._2))
  }
}
