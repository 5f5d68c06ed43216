package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingPeriod

/** Streaming≡batch parity for the week-over-week census: the stateful
  * lag-ring realization (StreamingPeriod) must reproduce the
  * DuckDB-hash-checked batch frame (q_period_over_period) BIT-for-bit —
  * both sides count exact BIGINTs and run the identical single IEEE
  * division for pct_change.
  */
class StreamingPeriodSpec extends SparkSpec {

  import spark.implicits._

  /** Replays `fx` in three micro-batches, then two sentinel rows
    * `sentinelGapMs` past the last event: the first advances the watermark
    * past every real week's end, the second delivers rows so the timeout
    * sweep finalizes the tail. Asserts the result equals batch
    * q_period_over_period bit-for-bit.
    */
  private def assertReplayEqualsBatch(name: String,
      fx: Array[(Timestamp, String)], lateness: String,
      sentinelGapMs: Long): Unit = {
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamingPeriod.weekOverWeek(
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

      val streaming = spark.table(name)
        .filter(col("event_type") =!= "zz_sentinel")
        .select(col("event_type"), col("week").cast("string"), col("cnt"),
          col("prev"), col("pct_change"))
        .as[(String, String, Long, Option[Long], Option[Double])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      val batch = query("q_period_over_period")
        .select(col("event_type"), col("week").cast("string"), col("cnt"),
          col("prev"), col("pct_change"))
        .as[(String, String, Long, Option[Long], Option[Double])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(streaming.length == batch.length,
        s"row counts differ: streaming=${streaming.length} batch=${batch.length}")
      assert(streaming == batch,
        "streaming week-over-week must equal the batch frame bit-for-bit")
    } finally q.stop()
  }

  test("streaming week-over-week over the replayed fixture equals batch q_period_over_period bit-for-bit") {
    assertReplayEqualsBatch("replay_wow", typedEvents(shuffled = false),
      "0 seconds", sentinelGapMs = 15L * 86400000L)
  }

  test("shuffled replay under a wide lateness equals batch q_period_over_period bit-for-bit") {
    // lateness wider than the span so nothing drops; the sentinels sit
    // beyond it so the first still moves the watermark past every week
    assertReplayEqualsBatch("replay_wow_shuffled", typedEvents(shuffled = true),
      "3650 days", sentinelGapMs = (3650L + 15L) * 86400000L)
  }

  test("weekStartUs truncates to Monday 00:00 UTC like date_trunc('week')") {
    // 2024-01-01 was a Monday; probe a full week plus boundaries
    val mondayUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
    for (off <- 0 until 7) {
      val us = mondayUs + off.toLong * 86400000000L + 12345678L
      assert(StreamingPeriod.weekStartUs(us) == mondayUs,
        s"offset $off should truncate to the Monday")
    }
    assert(StreamingPeriod.weekStartUs(mondayUs - 1L) ==
      mondayUs - 7L * 86400000000L)
  }

  test("a week-late row is dropped; a gap week is skipped by the lag like the batch frame") {
    def ts(s: String): Timestamp = Timestamp.valueOf(s)
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamingPeriod.weekOverWeek(
      in.toDF().toDF("ts", "event_type"), "ts", "event_type", "1 hour")
    val q = out.writeStream.format("memory").queryName("wow_unit")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // week of Mon 2024-01-01: two rows; then jump over the week of
      // 01-08 (gap) into the week of 01-15 — the lag must bridge the gap
      in.addData((ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-03 11:00:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("2024-01-15 09:00:00"), "a"))
      q.processAllAvailable()
      // late row for the now-finalized first week: beyond the horizon
      in.addData((ts("2024-01-02 00:00:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("2024-01-29 09:00:00"), "a")) // finalize 01-15's week
      q.processAllAvailable()
      val rows = spark.table("wow_unit")
        .select(col("week").cast("string"), col("cnt"), col("prev"), col("pct_change"))
        .as[(String, Long, Option[Long], Option[Double])]
        .collect().sortBy(_._1).toSeq
      assert(rows == Seq(
        ("2024-01-01 00:00:00", 2L, None, None),
        ("2024-01-15 00:00:00", 1L, Some(2L), Some(-0.5))),
        s"got $rows")
    } finally q.stop()
  }
}
