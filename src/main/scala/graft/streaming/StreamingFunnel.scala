package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import WatermarkFold.Next

/** One funnel-relevant event. `ts` is the WATERMARKED event-time column —
  * it must survive into the stateful operator for the event-time timeout
  * to be legal; `us` is its exact-µs integer used by all stage arithmetic.
  */
final case class FunnelEvent(user_id: Long, event_type: String, us: Long,
    ts: java.sql.Timestamp)

/** Per-user buffered stage events awaiting finalization: parallel arrays of
  * (stage index, µs). Bounded: only the declared stage types are buffered,
  * only within the reachable conversion horizon (first-signup +
  * (stages−1)·window), and the buffer collapses to an empty TOMBSTONE
  * (`done = true`) when the watermark passes that horizon — a user
  * converts at most once (the batch query's t₁ = the GLOBAL first
  * signup), so later events must not restart the funnel.
  */
final case class FunnelBuf(types: Array[Int], uss: Array[Long],
    done: Boolean)

/** A user's finalized funnel depth (1 = reached stage 1 only, …). */
final case class FunnelUser(user_id: Long, stage: Long)

/** Streaming realization of the batch conversion funnel (q_event_funnel,
  * graft.ops.TimeWindows): stage k is the EARLIEST stage-k event strictly
  * after the previous stage's time and within `windowUs` of it; a user's
  * depth is the number of stages reached.
  *
  * Shape: a [[WatermarkFold]] keyed on user. Events are buffered per
  * user and the stage machine is evaluated once, at finalization — so the
  * answer is independent of arrival order within the watermark bound (a
  * late-but-admissible signup can still lower t1 and re-qualify an
  * earlier-buffered click; an incremental fold would have already dropped
  * it). Finalization fires
  * when the watermark passes first-signup + (stages−1)·window — past that
  * point no admissible event can change the user's depth, because t_k ≤
  * t1 + (k−1)·window by induction.
  *
  * 100 TB shape: state is per-user and bounded — only declared stage
  * types, only inside the conversion horizon (events beyond
  * first-signup + (stages−1)·window are pruned on arrival; the first
  * signup can only move EARLIER, so the prune is safe). Once finalized, a
  * converting user's buffer collapses to an empty tombstone so later
  * events cannot restart the funnel (batch t₁ is the global first signup
  * — one funnel per user, ever); non-converting users are dropped
  * entirely once the watermark passes their last event + span. Emission
  * is append-mode (one final row per converting user), so a downstream
  * per-stage rollup is a 3-row aggregation of finalized rows. Only
  * stage-typed rows reach the fold, so only they can finalize a quiescing
  * stream.
  */
object StreamingFunnel {

  /** Per-user finalized funnel depth over a timestamped stream.
    *
    * @param stages ordered stage event types (e.g. signup, click,
    *   purchase); only these are buffered
    * @param windowUs per-stage conversion window in µs (default 24 h)
    */
  def userStages(stream: DataFrame, tsCol: String, userCol: String,
      typeCol: String, stages: Seq[String], lateness: String,
      windowUs: Long = 86400000000L): Dataset[FunnelUser] = {
    val spark = stream.sparkSession
    import spark.implicits._
    require(stages.nonEmpty, "at least one funnel stage")
    WatermarkFold[Long, FunnelEvent, FunnelBuf, FunnelUser](
      stream.filter(col(typeCol).isin(stages: _*)), tsCol, lateness,
      col(userCol).cast("long").as("user_id"),
      col(typeCol).as("event_type"))(_.user_id)(
      step(stages.toIndexedSeq, windowUs))
  }

  private def step(stages: IndexedSeq[String], windowUs: Long)(
      user: Long, old: Option[FunnelBuf], it: Iterator[FunnelEvent],
      wmMs: Long): Next[FunnelBuf, FunnelUser] = old match {
    case Some(buf) if buf.done => Next(Nil, old) // finalized: ignore events
    case Some(buf) if !it.hasNext =>
      val depth = finalDepth(stages.length, windowUs, buf)
      // emitted once; keep an empty tombstone (no further timeout) so a
      // later signup cannot restart this user's funnel — batch t₁ is the
      // global minimum, one funnel per user, ever
      if (depth > 0) Next(Seq(FunnelUser(user, depth)), Some(
        FunnelBuf(Array.emptyIntArray, Array.emptyLongArray, done = true)))
      // never signed up inside the horizon: drop the state entirely — a
      // future signup legitimately starts this user's (first) funnel, and
      // the watermark guarantees the dropped events are all older than it,
      // so none could have qualified for a later stage anyway
      else Next(Nil, None)
    case _ =>
      val buf = old.getOrElse(
        FunnelBuf(Array.emptyIntArray, Array.emptyLongArray, done = false))
      val add = it.toArray
      var types = buf.types ++ add.map(e => stages.indexOf(e.event_type))
      var uss = buf.uss ++ add.map(_.us)
      // earliest first-stage time seen so far; it can only DECREASE as
      // more events arrive, so anything beyond its reachable horizon
      // (t1 + (n−1)·window bounds every later stage) is safely pruned
      var sigMin = Long.MaxValue
      var i = 0
      while (i < types.length) {
        if (types(i) == 0 && uss(i) < sigMin) sigMin = uss(i)
        i += 1
      }
      if (sigMin != Long.MaxValue) {
        val horizon = sigMin + (stages.length - 1).toLong * windowUs
        val keep = uss.indices.filter(j => uss(j) <= horizon)
        if (keep.length < uss.length) {
          types = keep.map(types).toArray
          uss = keep.map(uss).toArray
        }
      }
      // finalize when no admissible event can change the outcome: the
      // watermark passing the reachable horizon (or, for users with no
      // first-stage event yet, the last seen event + full span — a signup
      // older than that is beyond the lateness bound and may be dropped)
      val horizonUs =
        if (sigMin != Long.MaxValue) sigMin + (stages.length - 1).toLong * windowUs
        else uss.max + stages.length.toLong * windowUs
      Next(Nil, Some(FunnelBuf(types, uss, done = false)),
        Some(horizonUs / 1000L + 1L))
  }

  /** Evaluate the stage machine over the full buffer: t₀ = min stage-0
    * time; t_k = min stage-k time in (t_{k−1}, t_{k−1}+window]; depth =
    * number of stages reached.
    */
  private def finalDepth(n: Int, windowUs: Long, buf: FunnelBuf): Long = {
    var prev = Long.MinValue
    var depth = 0L
    var k = 0
    var reachable = true
    while (k < n && reachable) {
      var best = Long.MaxValue
      var i = 0
      while (i < buf.types.length) {
        if (buf.types(i) == k) {
          val u = buf.uss(i)
          if (u < best && (k == 0 || (u > prev && u <= prev + windowUs)))
            best = u
        }
        i += 1
      }
      if (best == Long.MaxValue) reachable = false
      else { depth += 1; prev = best }
      k += 1
    }
    depth
  }
}
