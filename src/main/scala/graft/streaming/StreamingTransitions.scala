package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import WatermarkFold.Next

/** One transition-relevant event (same shape as AttrEvent: `ts` is the
  * watermarked event-time column, `us` its exact-µs integer, `event_id`
  * the total-order tiebreak).
  */
final case class TransEvent(user_id: Long, event_id: Long, event_type: String,
    us: Long, ts: Timestamp)

/** Per-user pending events in (us, event_id) order — the finalized tail's
  * last event (the next pair's source) plus everything not yet behind the
  * watermark.
  */
final case class TransBuf(ids: Array[Long], types: Array[String],
    uss: Array[Long])

/** One finalized transition edge. */
final case class Transition(user_id: Long, src: String, dst: String)

/** Streaming realization of the batch Markov transition matrix
  * (q_markov_transitions, graft.ops.TimeWindows): per user, each
  * consecutive (src → dst) event pair in (us, event_id) order, emitted as
  * an append stream of edges the downstream (src, dst) rollup counts.
  *
  * Finalization rule: a pair (a, b) is emitted once the watermark passes
  * b's event time — then no admissible late event can land between a and b
  * (every future event has us ≥ W > b.us ≥ a.us... the watermark bounds
  * NEW arrivals below W out entirely), so consecutive-in-buffer equals
  * consecutive-in-stream. An incremental lead-fold without the buffer
  * would mis-pair around late arrivals; this is the same
  * buffer-until-final design as StreamingAttribution.
  *
  * 100 TB shape: state is per-user and bounded — everything strictly
  * behind the LAST finalized event drops immediately; what remains is one
  * carry event plus the in-flight window the watermark has not passed
  * (lateness-bounded). A user whose carry is their only state keeps one
  * row until their next event or timeout.
  */
object StreamingTransitions {

  def transitions(stream: DataFrame, tsCol: String, userCol: String,
      typeCol: String, idCol: String, lateness: String): Dataset[Transition] = {
    val spark = stream.sparkSession
    import spark.implicits._
    WatermarkFold[Long, TransEvent, TransBuf, Transition](stream, tsCol,
      lateness, col(userCol).cast("long").as("user_id"),
      col(idCol).cast("long").as("event_id"), col(typeCol).as("event_type"))(
      _.user_id)(step)
  }

  private def step(user: Long, old: Option[TransBuf], it: Iterator[TransEvent],
      wmMs: Long): Next[TransBuf, Transition] = {
    val buf = old.getOrElse(
      TransBuf(Array.emptyLongArray, Array.empty[String], Array.emptyLongArray))
    // merge + total order (us, event_id): the buffer is small (carry +
    // in-flight window), so a per-trigger sort is cheap and keeps the
    // invariant trivially
    val all = (buf.ids.indices.map(i => (buf.uss(i), buf.ids(i), buf.types(i)))
      ++ it.map(e => (e.us, e.event_id, e.event_type)))
      .sortBy { case (us, id, _) => (us, id) }
    val wUs = wmMs * 1000L

    // emit every consecutive pair whose LATER member is behind the
    // watermark; keep from the last finalized event onward (it is the
    // source of the next pair)
    val out = scala.collection.mutable.ArrayBuffer[Transition]()
    var lastFinal = -1
    var i = 1
    while (i < all.length) {
      if (all(i)._1 < wUs) {
        out += Transition(user, all(i - 1)._3, all(i)._3)
        lastFinal = i
      }
      i += 1
    }
    val keep = all.drop(math.max(lastFinal, 0))
    if (keep.isEmpty) Next(out.toSeq, None)
    // a pending pair wakes when the watermark passes its later member; a
    // lone carry registers no timeout: it is the next pair's source for as
    // long as the user may still produce events (production deployments
    // wanting idle-state reclaim add a TTL wake here — dropping the carry
    // only forgets one edge at the idle boundary)
    else Next(out.toSeq, Some(TransBuf(keep.map(_._2).toArray,
      keep.map(_._3).toArray, keep.map(_._1).toArray)),
      if (keep.length >= 2) Some(keep(1)._1 / 1000L) else None)
  }
}
