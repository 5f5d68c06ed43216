package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import WatermarkFold.Next

/** Per-DAY state: the day's per-type counts as parallel arrays (types is
  * a small bounded set by design — single-digit in the fixture). The
  * whole group finalizes at once when the watermark passes the day's
  * end, so state per key exists only inside the lateness horizon and is
  * REMOVED on emission — the day-keyed analog of [[BucketRing]]'s open
  * buckets.
  */
final case class DayTypeState(types: Array[String], cnts: Array[Long])

/** A finalized ledger row: one (day, type, n) cell. */
final case class DayTypeCount(day: java.sql.Timestamp, event_type: String,
    n: Long)

/** Streaming face of the cross-type correlation census (q_type_corr,
  * graft.ops.TimeWindows). Pearson over type PAIRS is a cross-key
  * reduction — no single flatMapGroupsWithState key can see two types'
  * day vectors — so the streaming operator maintains the thing that IS
  * per-key: the finalized (day × type) count ledger, keyed by DAY. Each
  * UTC day's per-type counts accumulate in bounded state and the whole
  * day emits append-mode (one row per type present that day) once the
  * watermark passes its end; the group's state is then REMOVED. The
  * Pearson census — zero-filled day×type grid, integer Σx/Σxx/Σxy sums,
  * one IEEE division — runs on the bounded ledger via [[pearsonCensus]]
  * (batch-side or a downstream job), the same altitude split as
  * StreamingReach.firstSeen's per-day rollup: stacking an aggregation on
  * flatMapGroupsWithState inside one append-mode query is forbidden, and
  * the ledger is the reusable artifact anyway (any pairwise statistic
  * derives from it without touching the event stream again).
  * StreamingTypeCorrSpec pins ledger→census ≡ the DuckDB-hash-checked
  * batch q_type_corr frame bit-for-bit.
  *
  * 100 TB shape: state is (types present) per open day — bounded by the
  * lateness horizon × |types|, independent of event volume; the census
  * input is |days|×|types| rows, not events.
  */
object StreamingTypeCorr {

  private val DayUs = 86400000000L

  def dayTypeCounts(stream: DataFrame, tsCol: String, typeCol: String,
      lateness: String): Dataset[DayTypeCount] = {
    val spark = stream.sparkSession
    import spark.implicits._
    WatermarkFold[Long, TypeEvent, DayTypeState, DayTypeCount](stream, tsCol,
      lateness, col(typeCol).as("event_type"))(
      e => e.us - java.lang.Math.floorMod(e.us, DayUs))(step)
  }

  private def step(dayUs: Long, old: Option[DayTypeState],
      it: Iterator[TypeEvent], wmMs: Long): Next[DayTypeState, DayTypeCount] = {
    // a day whose group state was already removed re-entering here would
    // double-emit; that cannot happen inside the horizon (the watermark
    // only passes a day's end once), and beyond it the rows are
    // inadmissible by the watermark contract — nothing to guard.
    val counts = scala.collection.mutable.TreeMap.empty[String, Long]
    old.foreach(s => counts ++= s.types.zip(s.cnts))
    it.foreach { e =>
      counts(e.event_type) = counts.getOrElse(e.event_type, 0L) + 1L
    }
    val endMs = (dayUs + DayUs) / 1000L
    if (endMs <= wmMs) {
      // day complete: emit every type's cell and drop the group's state
      val day = new java.sql.Timestamp(dayUs / 1000L)
      Next(counts.toSeq.map { case (t, n) => DayTypeCount(day, t, n) }, None)
    } else
      Next(Nil, Some(DayTypeState(counts.keys.toArray, counts.values.toArray)),
        Some(endMs + 1L))
  }

  /** The pair-Pearson census over a finalized (day, event_type, n)
    * ledger — numerically IDENTICAL to batch q_type_corr: zero-filled
    * day×type grid (a type absent on a ledger day counts 0), exact
    * BIGINT moment sums, NULL (not NaN) for zero-variance pairs, one
    * IEEE division. The grid cross joins the day spine against the
    * |types|-bounded type frame — broadcast, never a real cartesian.
    */
  def pearsonCensus(ledger: DataFrame): DataFrame = {
    val counts = ledger.select(col("day"), col("event_type"), col("n"))
      .localCheckpoint(eager = false)
    val days = counts.select("day").distinct()
    val types = counts.select("event_type").distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(counts, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
    val a = grid.select(col("day"), col("event_type").as("ta"), col("n").as("x"))
    val b = grid.select(col("day"), col("event_type").as("tb"), col("n").as("y"))
    // DECIMAL(38,0) moment sums, mirroring batch q_type_corr exactly: a
    // per-day per-type count near 3e9 puts x*x at BIGINT's edge and the
    // day-summed moments past it — exact decimal instead of silent wrap.
    a.join(b, "day").filter(col("ta") < col("tb"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_days"),
        sum(expr("cast(x as decimal(20,0))")).as("sx"),
        sum(expr("cast(y as decimal(20,0))")).as("sy"),
        sum(expr("cast(x as decimal(19,0)) * cast(x as decimal(19,0))")).as("sxx"),
        sum(expr("cast(y as decimal(19,0)) * cast(y as decimal(19,0))")).as("syy"),
        sum(expr("cast(x as decimal(19,0)) * cast(y as decimal(19,0))")).as("sxy"))
      .withColumn("den",
        sqrt(expr("cast(n_days*sxx - sx*sx as double)"))
          * sqrt(expr("cast(n_days*syy - sy*sy as double)")))
      .select(col("ta"), col("tb"), col("n_days").cast("long").as("n_days"),
        (expr("cast(n_days*sxy - sx*sy as double)")
          / expr("nullif(den, 0.0d)")).as("pearson_r"))
      .orderBy(asc_nulls_first("ta"), asc_nulls_first("tb"))
  }
}
