package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import WatermarkFold.Next

/** One attribution-relevant event; `ts` is the watermarked event-time
  * column (must survive into the stateful operator), `us` its exact-µs
  * integer used by all gap arithmetic, `event_id` the total-order tiebreak.
  */
final case class AttrEvent(user_id: Long, event_id: Long, event_type: String,
    us: Long, ts: Timestamp)

/** Per-user pending events: parallel arrays of (event_id, type, µs) —
  * purchases awaiting finalization plus the touch candidates that may
  * still attribute a pending or future purchase.
  */
final case class AttrBuf(ids: Array[Long], types: Array[String],
    uss: Array[Long])

/** One finalized attribution: the purchase and the touch it credits. */
final case class Attribution(user_id: Long, purchase_id: Long, touch: String)

/** Streaming realization of batch last-touch attribution
  * (q_event_attribution, graft.ops.TimeWindows): each purchase credits the
  * user's most recent strictly-preceding non-purchase event — (us,
  * event_id) order, the batch window's exact tie rule — if that touch is
  * within `lookbackUs`, else 'none'.
  *
  * Shape: a [[WatermarkFold]] keyed on user. Events buffer per user; a
  * purchase finalizes only when the watermark passes its event time —
  * until then a late-but-admissible touch could still be the most recent
  * preceding one (an incremental fold would already have attributed
  * wrongly). "Most recent preceding touch
  * within the lookback, else none" equals the batch rule because the
  * lookback window is a SUFFIX of the preceding range: if any preceding
  * touch is in the window, the most recent preceding touch is too.
  *
  * 100 TB shape: state is per-user and bounded — a touch is pruned once
  * the watermark guarantees every future admissible purchase is more than
  * `lookbackUs` after it (us < W − lookback); finalized purchases leave
  * the buffer immediately; a user with nothing pending drops their state
  * entirely. Emission is append-mode, one row per purchase, so the
  * downstream per-touch rollup aggregates finalized rows only.
  */
object StreamingAttribution {

  def lastTouch(stream: DataFrame, tsCol: String, userCol: String,
      typeCol: String, idCol: String, lateness: String,
      lookbackUs: Long = 86400000000L,
      purchaseType: String = "purchase"): Dataset[Attribution] = {
    val spark = stream.sparkSession
    import spark.implicits._
    WatermarkFold[Long, AttrEvent, AttrBuf, Attribution](stream, tsCol,
      lateness, col(userCol).cast("long").as("user_id"),
      col(idCol).cast("long").as("event_id"), col(typeCol).as("event_type"))(
      _.user_id)(step(lookbackUs, purchaseType))
  }

  private def step(lookbackUs: Long, purchaseType: String)(
      user: Long, old: Option[AttrBuf], it: Iterator[AttrEvent],
      wmMs: Long): Next[AttrBuf, Attribution] = {
    val buf = old.getOrElse(
      AttrBuf(Array.emptyLongArray, Array.empty[String], Array.emptyLongArray))
    val add = it.toArray
    val ids = buf.ids ++ add.map(_.event_id)
    val types = buf.types ++ add.map(_.event_type)
    val uss = buf.uss ++ add.map(_.us)
    val wUs = wmMs * 1000L

    // finalize every purchase strictly behind the watermark: all events at
    // or before its (us, id) position are in the buffer by the watermark
    // guarantee, so the attribution is total
    val out = scala.collection.mutable.ArrayBuffer[Attribution]()
    val keep = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < ids.length) {
      if (types(i) == purchaseType) {
        if (uss(i) < wUs) {
          // most recent preceding touch: max by (us, event_id) among
          // non-purchase events ordered before the purchase
          var bi = -1
          var j = 0
          while (j < ids.length) {
            if (types(j) != purchaseType &&
                (uss(j) < uss(i) || (uss(j) == uss(i) && ids(j) < ids(i))) &&
                (bi < 0 || uss(j) > uss(bi) ||
                  (uss(j) == uss(bi) && ids(j) > ids(bi)))) bi = j
            j += 1
          }
          val touch =
            if (bi >= 0 && uss(i) - uss(bi) <= lookbackUs) types(bi)
            else "none"
          out += Attribution(user, ids(i), touch)
        } else keep += i // pending: watermark has not passed it yet
      } else if (uss(i) >= wUs - lookbackUs) {
        keep += i // touch that may still attribute a pending/future purchase
      }
      i += 1
    }

    if (keep.isEmpty) Next(out.toSeq, None)
    else {
      // wake when the watermark passes the earliest pending purchase (to
      // finalize it) or, with only touches left, their prune horizon (to
      // release the state of a user who goes quiet)
      val pend = keep.filter(k => types(k) == purchaseType)
      val nextUs =
        if (pend.nonEmpty) pend.map(uss).min
        else keep.map(uss).max + lookbackUs
      Next(out.toSeq, Some(AttrBuf(keep.map(ids).toArray,
        keep.map(types).toArray, keep.map(uss).toArray)), Some(nextUs / 1000L))
    }
  }
}
