package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingDrift

/** Streaming≡batch parity for the EWMA drift monitor: the stateful ring
  * realization (StreamingDrift) must reproduce the DuckDB-hash-checked
  * batch frame (q_ewma_drift) BIT-for-bit, including the IEEE doubles —
  * both sides compute the identical integer numerator/denominator and the
  * identical single divisions.
  */
class StreamingDriftSpec extends SparkSpec {

  import spark.implicits._

  /** Replays `fx` in three micro-batches, then two far-future rows under an
    * excluded sentinel type placed `sentinelGapMs` past the last event: the
    * first moves the watermark past every real day's end, the second
    * delivers rows to the stateful operator so the timeout sweep finalizes
    * the tail. Asserts the result equals batch q_ewma_drift bit-for-bit.
    */
  private def assertReplayEqualsBatch(name: String,
      fx: Array[(Timestamp, String)], lateness: String,
      sentinelGapMs: Long): Unit = {
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamingDrift.ewmaDrift(
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
        .select(col("event_type"), col("day").cast("string"), col("cnt"),
          col("ewma"), col("drift"))
        .as[(String, String, Long, Option[Double], Option[Double])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      val batch = query("q_ewma_drift")
        .select(col("event_type"), col("day").cast("string"), col("cnt"),
          col("ewma"), col("drift"))
        .as[(String, String, Long, Option[Double], Option[Double])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(streaming.length == batch.length,
        s"row counts differ: streaming=${streaming.length} batch=${batch.length}")
      assert(streaming == batch,
        "streaming EWMA drift must equal the batch frame bit-for-bit")
    } finally q.stop()
  }

  test("streaming EWMA drift over the replayed fixture equals batch q_ewma_drift bit-for-bit") {
    // in ts order, so a zero lateness drops nothing
    assertReplayEqualsBatch("replay_drift", typedEvents(shuffled = false),
      "0 seconds", sentinelGapMs = 5L * 86400000L)
  }

  test("shuffled replay under a wide lateness equals batch q_ewma_drift bit-for-bit") {
    // lateness wider than the span so nothing drops; the sentinels sit
    // beyond it so the first still moves the watermark past every day
    assertReplayEqualsBatch("replay_drift_shuffled", typedEvents(shuffled = true),
      "3650 days", sentinelGapMs = (3650L + 5L) * 86400000L)
  }

  test("streaming EWMA drift drops a day-late row but keeps state bounded and the ring rolling") {
    // unit-grain behavior: three days for one type with 1-hour lateness;
    // after day 1 finalizes, a late row for day 1 is dropped (beyond the
    // horizon), and day 3's EWMA looks back over the finalized ring
    // exactly as the batch lag form would.
    def ts(s: String): Timestamp = Timestamp.valueOf(s)
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamingDrift.ewmaDrift(
      in.toDF().toDF("ts", "event_type"), "ts", "event_type", "1 hour")
    val q = out.writeStream.format("memory").queryName("drift_unit")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-01 11:00:00"), "a"))
      q.processAllAvailable()
      // watermark → Jan 2 02:00 ⇒ Jan 1 finalizes (cnt=2, no trailing days)
      in.addData((ts("2024-01-02 03:00:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("2024-01-02 04:00:00"), "a"),
        (ts("2024-01-01 12:00:00"), "a")) // late: Jan 1 already finalized
      q.processAllAvailable()
      // watermark → Jan 3 03:00 ⇒ Jan 2 finalizes (cnt=2 — late row dropped;
      // ewma = 2·128/128 = 2.0, drift = 1.0)
      in.addData((ts("2024-01-03 04:00:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("2024-01-04 06:00:00"), "a"))
      q.processAllAvailable()
      // Jan 3 finalizes: cnt=1, trailing ring = [Jan 1 (2), Jan 2 (2)] ⇒
      // ewma = (2·128 + 2·64)/(128+64) = 2.0, drift = 1/2.0
      in.addData((ts("2024-01-04 07:00:00"), "a"))
      q.processAllAvailable()
      val rows = spark.table("drift_unit")
        .select(col("day").cast("string"), col("cnt"), col("ewma"), col("drift"))
        .as[(String, Long, Option[Double], Option[Double])]
        .collect().sortBy(_._1).toSeq
      assert(rows == Seq(
        ("2024-01-01 00:00:00", 2L, None, None),
        ("2024-01-02 00:00:00", 2L, Some(2.0), Some(1.0)),
        ("2024-01-03 00:00:00", 1L, Some(2.0), Some(0.5))),
        s"unexpected drift rows: $rows")
    } finally q.stop()
  }
}
