package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import WatermarkFold.Next

/** One reach-relevant event (watermarked event time + its exact-µs twin). */
final case class ReachEvent(user_id: Long, us: Long, ts: java.sql.Timestamp)

/** Per-user pending state: the earliest event-time day (µs) seen so far.
  * `done` marks an emitted user (tombstone) so a much-later return visit
  * cannot re-emit them as new.
  */
final case class ReachState(minDayUs: Long, done: Boolean)

/** A finalized first-seen row: this user first appeared on `day`. */
final case class FirstSeen(user_id: Long, day: java.sql.Timestamp)

/** Streaming faces of the daily reach census (batch q_daily_reach,
  * graft.ops.TimeWindows):
  *
  *   - [[firstSeen]] — the NEW-USER ledger: one append row per user with
  *     their earliest event-time day, emitted only when the watermark
  *     passes that day's end (until then a late-but-admissible event
  *     could still move the minimum earlier) — so the answer is
  *     arrival-order independent within the watermark bound, exactly the
  *     batch `min(day) GROUP BY user` frame. First-arrival semantics
  *     (what a naive dropDuplicates-on-user gives) would attribute an
  *     out-of-order user to the WRONG day; the min-fold cannot. State is
  *     one (long, bool) per user, tombstoned after emission; tombstones
  *     expire 30 days past the watermark (TombstoneTtlMs), so state is
  *     bounded by users ACTIVE in that horizon, not the all-time
  *     population — a returner after >30 days silence re-emits once, the
  *     standard TTL trade. The per-day new-user rollup is a trivial
  *     aggregation of this ledger (batch-side or a downstream job);
  *     chaining it INTO this query would stack an agg on
  *     flatMapGroupsWithState, which append-mode streaming forbids.
  *
  *   - [[dau]] — per-day distinct users as a pure composition of
  *     watermark-native built-ins: dropDuplicatesWithinWatermark on
  *     (user, day) then a tumbling 1-day count. Order-independent by
  *     construction (any one arrival per (user, day) survives the dedup;
  *     the count only needs one), bounded dedup state (keys expire with
  *     the watermark), finalized days emit once in append mode.
  *
  * StreamingReachSpec pins both equal to the batch q_daily_reach columns
  * over in-order AND shuffled replays of the fixture.
  */
object StreamingReach {

  private val DayUs = 86400000000L

  def dau(stream: DataFrame, tsCol: String, userCol: String,
      lateness: String): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .select(col(tsCol).as("ts"), col(userCol).as("user_id"),
        date_trunc("day", col(tsCol)).as("day"))
      .dropDuplicatesWithinWatermark("user_id", "day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("dau"))
      .select(col("w.start").as("day"), col("dau"))

  def firstSeen(stream: DataFrame, tsCol: String, userCol: String,
      lateness: String): Dataset[FirstSeen] = {
    val spark = stream.sparkSession
    import spark.implicits._
    WatermarkFold[Long, ReachEvent, ReachState, FirstSeen](stream, tsCol,
      lateness, col(userCol).cast("long").as("user_id"))(_.user_id)(step)
  }

  /** How long past the watermark an emitted user's tombstone is held
    * before its state is dropped. The tombstone's job is to keep RETURN
    * visits from re-counting as reach; holding it forever would grow
    * state with the all-time user population, so it expires TTL past the
    * watermark instead — bounding state at (users seen within the TTL
    * horizon), at the documented cost that a user returning after >30
    * days of silence re-emits once. Pick the TTL like a sessionization
    * horizon: longer = fewer re-emissions, more state. */
  private val TombstoneTtlMs = 30L * 86400000L

  private def step(user: Long, old: Option[ReachState],
      it: Iterator[ReachEvent], wmMs: Long): Next[ReachState, FirstSeen] = {
    val st = old.getOrElse(ReachState(Long.MaxValue, done = false))
    if (st.done) {
      // already emitted: every further event is a RETURN visit, not reach.
      // Expire the tombstone TTL past the watermark (see TombstoneTtlMs);
      // a live return visit pushes the expiry out again.
      if (it.hasNext) Next(Nil, old, Some(wmMs + TombstoneTtlMs))
      else Next(Nil, None)
    } else {
      var minDay = st.minDayUs
      it.foreach { e =>
        val day = e.us - java.lang.Math.floorMod(e.us, DayUs)
        if (day < minDay) minDay = day
      }
      if ((minDay + DayUs) / 1000L <= wmMs)
        // no admissible event can precede this day any more — finalize;
        // the tombstone gets a TTL expiry so it cannot accrete forever
        Next(Seq(FirstSeen(user, new java.sql.Timestamp(minDay / 1000L))),
          Some(ReachState(minDay, done = true)), Some(wmMs + TombstoneTtlMs))
      else
        Next(Nil, Some(ReachState(minDay, done = false)),
          Some((minDay + DayUs) / 1000L + 1L))
    }
  }
}
