package graft.examples

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.bus._

/** Runnable end-to-end example of the streaming bus — the engine's analog
  * of the reference's Example() integration scenario
  * (/root/reference/frizzle_integration_test.go:82-131): five messages,
  * "fail" is dead-lettered, all-lowercase payloads route to "all-lower",
  * everything else is ack-only.
  *
  * Run: sbt "runMain graft.examples.BusExample"
  */
object BusExample {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")

    val src = new MemorySource(spark)
    val sink = new MemorySink
    val dlq = new MemorySink
    val isLower = col("data").cast("string").rlike("^[a-z]+$")
    val bus = new FrizzleStream(spark, src,
      FrizzleStream.exprProcessor(
        dest = when(isLower && col("data").cast("string") =!= "fail", "all-lower"),
        failed = col("data").cast("string") === "fail"),
      sink, Some(dlq),
      checkpointDir = Some(Files.createTempDirectory("bus-example").toString))
      .handleShutdown()
      .start()

    src.put(Msg.utf8("0", "foo"), Msg.utf8("1", "BAR"), Msg.utf8("2", "fail"),
      Msg.utf8("3", "baSil"), Msg.utf8("4", "frizzle"))
    bus.awaitIdle()

    println("sent:   " + sink.sent("all-lower").map(_.dataUtf8).sorted.mkString(", "))
    println("failed: " + dlq.sent("failed").map(_.dataUtf8).mkString(", "))
    println("stats:  " + bus.stats.snapshot.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    bus.flushAndClose(10000)
    println("closed cleanly")
    spark.stop()
  }
}
