package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import WatermarkFold.Next

/** One attrition event: the 8-byte content hash, the per-row quality-gate
  * verdict (computed BEFORE state — strings never enter state, the dedup
  * family's wire convention), and the watermarked event time + µs twin.
  */
final case class AttritionEvent(h: Long, gated: Boolean, us: Long,
    ts: java.sql.Timestamp)

/** Open per-day attrition state: raw arrivals, gate survivors, and the
  * distinct gated content hashes (sorted for a deterministic encoding).
  * Bounded by one day's distinct GATED volume — expires with the
  * watermark, never accreting across days.
  */
final case class AttritionState(hs: Array[Long], nRaw: Long, nGated: Long)

/** One finalized per-day pipeline stage row — the q_pipeline_attrition
  * shape (stage_ord, stage, n_docs, dropped, pct_of_raw) keyed by day.
  */
final case class AttritionStage(day: java.sql.Timestamp, stage_ord: Long,
    stage: String, n_docs: Long, dropped: Long, pct_of_raw: Double)

/** Streaming face of the curation-funnel attrition census (batch
  * q_pipeline_attrition, graft.ops.Pipeline): per event-time day, the
  * raw → quality_gate → exact_dedup survivor counts with per-stage drops
  * and pct-of-raw, emitted ONCE when the watermark passes the day's end.
  *
  * Stage semantics are the batch pipeline's, at day grain:
  *   - `raw` — every arrival;
  *   - `quality_gate` — rows passing [[graft.ops.Pipeline.qualityGate]]'s
  *     predicate (20..80 tokens), evaluated per row at ingest so ONLY a
  *     boolean crosses into state;
  *   - `exact_dedup` — distinct content hashes among gated rows (the
  *     keep-one-per-text count; which copy is kept is irrelevant to a
  *     census). A set fold is order- and batching-independent, so shuffled
  *     replay ≡ in-order replay ≡ batch (StreamingAttritionSpec pins all
  *     three).
  *
  * State bound: one day's distinct gated 8-byte hashes plus two counters
  * — NOT the all-time corpus (finalization removes the group; event-time
  * timeout is the reaper). A pathologically hot day shards the group key
  * by a hash prefix and re-aggregates downstream — the salted-aggregation
  * dial, same as StreamingDupRatio. Cross-day global dedup is
  * deliberately NOT this operator (that is graft.bus.SeenHashIndex);
  * this monitor answers "what did TODAY's funnel drop, per stage"
  * continuously.
  */
object StreamingAttrition {

  private val DayUs = 86400000000L

  def attritionByDay(stream: DataFrame, tsCol: String, textCol: String,
      lateness: String): Dataset[AttritionStage] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val nTokens = size(split(col(textCol), " "))
    WatermarkFold[Long, AttritionEvent, AttritionState, AttritionStage](
      stream, tsCol, lateness, xxhash64(col(textCol)).as("h"),
      // MUST stay the Pipeline.qualityGate predicate (20..80 tokens);
      // parity is pinned by StreamingAttritionSpec's batch comparison
      nTokens.between(20, 80).as("gated"))(
      e => e.us - java.lang.Math.floorMod(e.us, DayUs))(step)
  }

  private def step(dayUs: Long, old: Option[AttritionState],
      it: Iterator[AttritionEvent],
      wmMs: Long): Next[AttritionState, AttritionStage] = {
    if (!it.hasNext) {
      // watermark passed the day's end: no admissible arrival can change
      // any stage count — finalize the whole 3-row funnel exactly once
      val s = old.get
      val day = new java.sql.Timestamp(dayUs / 1000L)
      val raw = s.nRaw
      val uniq = s.hs.length.toLong
      Next(Seq(
        AttritionStage(day, 0L, "raw", raw, 0L, 1.0),
        AttritionStage(day, 1L, "quality_gate", s.nGated, raw - s.nGated,
          s.nGated.toDouble / raw.toDouble),
        AttritionStage(day, 2L, "exact_dedup", uniq, s.nGated - uniq,
          uniq.toDouble / raw.toDouble)), None)
    } else {
      val s = old.getOrElse(AttritionState(Array.empty, 0L, 0L))
      var raw = s.nRaw
      var gated = s.nGated
      val set = scala.collection.mutable.Set(s.hs: _*)
      it.foreach { e =>
        raw += 1
        if (e.gated) { gated += 1; set += e.h }
      }
      // finalize when the watermark passes the day end
      Next(Nil, Some(AttritionState(set.toArray.sorted, raw, gated)),
        Some((dayUs + DayUs) / 1000L))
    }
  }
}
