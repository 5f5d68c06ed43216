package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** A finalized week's row — the frame batch q_period_over_period emits:
  * NULL prev/pct_change for a type's first-ever week.
  */
final case class PeriodRow(event_type: String, week: java.sql.Timestamp,
    cnt: Long, prev: Option[Long], pct_change: Option[Double])

/** Streaming realization of the batch week-over-week census
  * (q_period_over_period, graft.ops.TimeWindows): per event type, each
  * Monday-00:00-UTC week's count and its delta vs the previous present
  * week, emitted append-mode once the watermark passes the week's end.
  * It is [[WatermarkFold.bucketRing]] at week width with a ring of one —
  * the batch query's `lag(cnt, 1)`. Arithmetic is the batch query's
  * exactly — exact BIGINT counts, ONE IEEE division for pct_change — so a
  * replayed stream matches the DuckDB-hash-checked batch frame bit-for-bit
  * (StreamingPeriodSpec).
  */
object StreamingPeriod {

  private val WeekUs = 7L * 86400000000L

  /** Monday-00:00-UTC week start for an epoch-µs instant. Agrees with both
    * engines' date_trunc('week', ts). */
  private[graft] def weekStartUs(us: Long): Long =
    WatermarkFold.bucketStart(us, WeekUs)

  def weekOverWeek(stream: DataFrame, tsCol: String, typeCol: String,
      lateness: String): Dataset[PeriodRow] = {
    val spark = stream.sparkSession
    import spark.implicits._
    WatermarkFold.bucketRing(stream, tsCol, typeCol, lateness, WeekUs,
        ringLen = 1) { (key, week, cnt, ring) =>
      val prev = ring.lastOption
      PeriodRow(key, new java.sql.Timestamp(week / 1000L), cnt, prev,
        prev.map(p => (cnt - p).toDouble / p.toDouble))
    }
  }
}
