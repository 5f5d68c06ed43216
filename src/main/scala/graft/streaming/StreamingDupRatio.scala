package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import WatermarkFold.Next

/** One dedup-census event: the watermarked event-time column plus its
  * exact-µs twin and the 8-byte content hash (strings never enter state —
  * the dedup family's wire convention).
  */
final case class DupEvent(source: String, h: Long, us: Long,
    ts: java.sql.Timestamp)

/** Open per-(source, day) census state: distinct content hashes seen so
  * far (stored sorted for a deterministic encoding) and the raw arrival
  * count. Bounded by one day of one source's DISTINCT volume — state
  * expires with the watermark, never accreting across days.
  */
final case class DupState(hs: Array[Long], nDocs: Long)

/** A finalized (source, day) dedup-rate row — same arithmetic as the batch
  * q_dup_ratio_by_source census (exact integer numerators, ONE final IEEE
  * division), at day grain so the watermark can finalize it.
  */
final case class DupDay(source: String, day: java.sql.Timestamp,
    n_docs: Long, n_uniq: Long, dup_ratio: Double)

/** Streaming face of the per-source duplication census (batch
  * q_dup_ratio_by_source, graft.ops.Dedup): per (source, event-time day),
  * the exact-dup ratio 1 − n_uniq/n_docs, emitted ONCE when the watermark
  * passes the day's end — until then a late-but-admissible arrival could
  * still change both counts, so early emission would be arrival-order
  * DEPENDENT. Distinct counting is a per-group hash SET fold (order- and
  * batching-independent by construction); the count pair is exactly the
  * batch `COUNT(*), COUNT(DISTINCT h) GROUP BY source, day` frame.
  *
  * State bound: one (source, day) group holds that day's distinct 8-byte
  * hashes for that source — a day of one source's distinct volume, NOT
  * the all-time corpus (groups are removed at finalization; event-time
  * timeout is the reaper). A pathologically hot source-day can shard the
  * group key by a hash prefix and re-aggregate the shards downstream —
  * same dial as salted aggregation. The all-time-global distinct census
  * is deliberately NOT this operator: that is the incremental-ingestion
  * dedup path (graft.bus.SeenHashIndex — LSM-tiered, epoch-replayable);
  * this monitor answers "how duplicated is TODAY's feed per source"
  * continuously, the triage signal q_dup_ratio_by_source answers in
  * batch.
  *
  * StreamingDupRatioSpec pins replay ≡ batch over in-order AND shuffled
  * replays of the fixture.
  */
object StreamingDupRatio {

  private val DayUs = 86400000000L

  def dupRatioByDay(stream: DataFrame, tsCol: String, sourceCol: String,
      textCol: String, lateness: String): Dataset[DupDay] = {
    val spark = stream.sparkSession
    import spark.implicits._
    WatermarkFold[(String, Long), DupEvent, DupState, DupDay](stream, tsCol,
      lateness, col(sourceCol).cast("string").as("source"),
      xxhash64(col(textCol)).as("h"))(
      e => (e.source, e.us - java.lang.Math.floorMod(e.us, DayUs)))(step)
  }

  private def step(key: (String, Long), old: Option[DupState],
      it: Iterator[DupEvent], wmMs: Long): Next[DupState, DupDay] = {
    val (source, dayUs) = key
    if (!it.hasNext) {
      // watermark passed the day's end: no admissible arrival can change
      // the counts any more — finalize exactly once and drop the state
      val s = old.get
      Next(Seq(DupDay(source, new java.sql.Timestamp(dayUs / 1000L),
        s.nDocs, s.hs.length.toLong,
        1.0 - s.hs.length.toDouble / s.nDocs.toDouble)), None)
    } else {
      val s = old.getOrElse(DupState(Array.empty, 0L))
      var n = s.nDocs
      val set = scala.collection.mutable.Set(s.hs: _*)
      it.foreach { e => n += 1; set += e.h }
      // finalize when the watermark passes the day end
      Next(Nil, Some(DupState(set.toArray.sorted, n)),
        Some((dayUs + DayUs) / 1000L))
    }
  }
}
