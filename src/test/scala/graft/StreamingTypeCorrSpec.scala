package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingTypeCorr

/** Streaming≡batch parity for the cross-type correlation census: the
  * day-keyed finalized ledger (StreamingTypeCorr.dayTypeCounts) fed
  * through the census (pearsonCensus) must reproduce the
  * DuckDB-hash-checked batch frame (q_type_corr) BIT-for-bit — the
  * census arithmetic is the batch query's own integer-moment
  * formulation, so equality holds down to the IEEE division.
  */
class StreamingTypeCorrSpec extends SparkSpec {

  import spark.implicits._

  /** Replays `fx` in three micro-batches plus two sentinel rows
    * `sentinelGapMs` past the last event (the first moves the watermark
    * past every real day, the second runs the timeout sweep), then asserts
    * the ledger's Pearson census equals batch q_type_corr bit-for-bit.
    */
  private def assertReplayEqualsBatch(name: String,
      fx: Array[(Timestamp, String)], lateness: String,
      sentinelGapMs: Long): Unit = {
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamingTypeCorr.dayTypeCounts(
      in.toDF().toDF("ts", "event_type"), "ts", "event_type", lateness)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .start()
    try {
      fx.grouped(fx.length / 3 + 1)
        .foreach { g => in.addData(g.toSeq); q.processAllAvailable() }
      val maxMs = fx.map(_._1.getTime).max
      in.addData((new Timestamp(maxMs + sentinelGapMs), "zz_sentinel"))
      q.processAllAvailable()
      in.addData((new Timestamp(maxMs + sentinelGapMs + 86400000L), "zz_sentinel"))
      q.processAllAvailable()

      // sentinel rows land on far-future days; dropping the TYPE also
      // drops those days from the ledger's day spine (no other type
      // fires there), so the census grid matches the batch grid
      val ledger = spark.table(name)
        .filter(col("event_type") =!= "zz_sentinel")
      val streaming = StreamingTypeCorr.pearsonCensus(ledger)
        .select(col("ta"), col("tb"), col("n_days"), col("pearson_r"))
        .as[(String, String, Long, Option[Double])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      val batch = query("q_type_corr")
        .select(col("ta"), col("tb"), col("n_days"), col("pearson_r"))
        .as[(String, String, Long, Option[Double])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(streaming.length == batch.length,
        s"row counts differ: streaming=${streaming.length} batch=${batch.length}")
      assert(streaming == batch,
        "ledger-derived Pearson census must equal the batch frame bit-for-bit")
    } finally q.stop()
  }

  test("streaming day-type ledger -> pearsonCensus equals batch q_type_corr bit-for-bit") {
    assertReplayEqualsBatch("replay_dtc", typedEvents(shuffled = false),
      "0 seconds", sentinelGapMs = 5L * 86400000L)
  }

  test("shuffled replay under a wide lateness: ledger -> pearsonCensus equals batch q_type_corr") {
    // lateness wider than the span so nothing drops; the sentinels sit
    // beyond it so the first still moves the watermark past every day
    assertReplayEqualsBatch("replay_dtc_shuffled", typedEvents(shuffled = true),
      "3650 days", sentinelGapMs = (3650L + 5L) * 86400000L)
  }

  test("a finalized day's group state is removed; late rows for it are dropped") {
    def ts(s: String): Timestamp = Timestamp.valueOf(s)
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamingTypeCorr.dayTypeCounts(
      in.toDF().toDF("ts", "event_type"), "ts", "event_type", "1 hour")
    val q = out.writeStream.format("memory").queryName("dtc_unit")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-01 11:00:00"), "b"),
        (ts("2024-01-01 12:00:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("2024-01-02 02:00:00"), "a")) // finalizes Jan 1
      q.processAllAvailable()
      // late row for Jan 1: watermark is past its end — inadmissible
      in.addData((ts("2024-01-01 23:00:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("2024-01-03 02:00:00"), "a")) // finalizes Jan 2
      q.processAllAvailable()
      val rows = spark.table("dtc_unit")
        .select(col("day").cast("string"), col("event_type"), col("n"))
        .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(rows == Seq(
        ("2024-01-01 00:00:00", "a", 2L),
        ("2024-01-01 00:00:00", "b", 1L),
        ("2024-01-02 00:00:00", "a", 1L)),
        s"got $rows")
    } finally q.stop()
  }
}
