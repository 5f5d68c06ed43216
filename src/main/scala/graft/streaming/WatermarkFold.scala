package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event typed by a single string column (the per-type monitors and
  * the day×type ledger): the watermarked event time plus its exact-µs twin.
  */
final case class TypeEvent(event_type: String, us: Long,
    ts: java.sql.Timestamp)

/** Per-key bucket-ring state: counts for OPEN (not yet watermark-finalized)
  * buckets as parallel sorted arrays, the newest FINALIZED bucket's start
  * (the lateness fence; Long.MinValue before the first) and the counts of
  * the ≤ ringLen most recently finalized buckets, oldest first. Bounded by
  * construction: open buckets lie inside the lateness horizon, the ring is
  * capped.
  */
final case class BucketRing(open: Array[Long], openCnts: Array[Long],
    fence: Long, ring: Array[Long])

/** The one state-and-timeout protocol behind every event-time stateful
  * operator in graft.streaming — the reference bus's single expiry rule for
  * its unacked map (common/unacked.go), stated once.
  *
  * The combinator owns the plumbing: the watermark on `tsCol`, a
  * projection that always carries `us` (exact µs) and `ts` (the
  * watermarked column, which must survive into the stateful operator for
  * an event-time timeout to be legal), `groupByKey` →
  * `flatMapGroupsWithState(Append, EventTimeTimeout)`, reading the state,
  * and writing the step's result: `update`, or `remove` when the step keeps
  * no state. An operator supplies only a pure step `(key, state, events,
  * wmMs) => Next`. Spark calls it with no events exactly when the key's
  * timeout fired.
  *
  * Timeout rule: a wake time is always set as `max(wake, wm + 1)`. Spark
  * rejects a timeout at or behind the current watermark, and the late-row
  * filter runs on the PREVIOUS batch's watermark, so an admissible row can
  * carry a deadline the watermark has already passed; the clamp makes such
  * a key fire on the next sweep instead of killing the query.
  *
  * Operational note (measured, Spark 4): the timeout sweep runs when a
  * triggered batch delivers rows to the stateful operator. A continuously
  * fed stream sweeps every batch; to finalize a quiescing stream, send any
  * row that reaches the operator (the specs use far-future rows under an
  * excluded sentinel key).
  */
object WatermarkFold {

  /** A step's result: rows to emit, the state to keep (None drops the
    * group) and the event time in ms at which to call the step again.
    */
  final case class Next[S, O](rows: Seq[O], state: Option[S],
      wakeMs: Option[Long] = None)

  def apply[K: Encoder, E: Encoder, S: Encoder, O: Encoder](
      stream: DataFrame, tsCol: String, lateness: String, cols: Column*)(
      key: E => K)(
      step: (K, Option[S], Iterator[E], Long) => Next[S, O]): Dataset[O] =
    stream
      .withWatermark(tsCol, lateness)
      .select(
        cols :+ unix_micros(col(tsCol)).as("us") :+ col(tsCol).as("ts"): _*)
      .as[E]
      .groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (k: K, events: Iterator[E], st: GroupState[S]) =>
          val wmMs = st.getCurrentWatermarkMs()
          val next = step(k, st.getOption, events, wmMs)
          next.state match {
            case Some(s) =>
              st.update(s)
              next.wakeMs.foreach(w =>
                st.setTimeoutTimestamp(math.max(w, wmMs + 1L)))
            case None => st.remove()
          }
          next.rows.iterator
      }

  /** Monday 1970-01-05 00:00 UTC: the bucket origin, so a day bucket is a
    * UTC day and a week bucket a Monday-started week.
    */
  private val OriginUs = 4L * 86400000000L

  /** Start of the `widthUs` bucket holding an epoch-µs instant. */
  private[graft] def bucketStart(us: Long, widthUs: Long): Long =
    us - java.lang.Math.floorMod(us - OriginUs, widthUs)

  /** Per-type counts in `widthUs` buckets, each bucket finalized exactly
    * once, in bucket order, when the watermark passes its end; `row` builds
    * its output from (type, bucket start, count, ring of the ≤ ringLen
    * previously finalized counts, oldest first). A row for a bucket at or
    * before the newest finalized one is beyond the lateness bound and is
    * dropped (a batch query, seeing all data at once, has no such horizon).
    * State per type: the open buckets inside the lateness horizon plus the
    * ring — constant, independent of event volume.
    */
  def bucketRing[O: Encoder](stream: DataFrame, tsCol: String,
      typeCol: String, lateness: String, widthUs: Long, ringLen: Int)(
      row: (String, Long, Long, Array[Long]) => O): Dataset[O] = {
    val spark = stream.sparkSession
    import spark.implicits._
    WatermarkFold[String, TypeEvent, BucketRing, O](stream, tsCol, lateness,
        col(typeCol).as("event_type"))(_.event_type) { (key, old, it, wmMs) =>
      val st = old.getOrElse(BucketRing(Array.emptyLongArray,
        Array.emptyLongArray, Long.MinValue, Array.emptyLongArray))
      val open = scala.collection.mutable.TreeMap.from(st.open.zip(st.openCnts))
      it.foreach { e =>
        val b = bucketStart(e.us, widthUs)
        if (b > st.fence) open(b) = open.getOrElse(b, 0L) + 1L
      }
      var fence = st.fence
      var ring = st.ring
      val out = Seq.newBuilder[O]
      while (open.nonEmpty && (open.head._1 + widthUs) / 1000L <= wmMs) {
        val (b, cnt) = open.head
        open.remove(b)
        out += row(key, b, cnt, ring)
        fence = b
        ring = (ring :+ cnt).takeRight(ringLen)
      }
      // wake when the earliest still-open bucket becomes finalizable; with
      // none open the ring alone never expires (it is the lookback for the
      // type's NEXT bucket)
      Next(out.result(),
        Some(BucketRing(open.keys.toArray, open.values.toArray, fence, ring)),
        open.headOption.map { case (b, _) => (b + widthUs) / 1000L + 1L })
    }
  }
}
