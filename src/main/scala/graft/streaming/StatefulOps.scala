package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import WatermarkFold.Next

/** Custom keyed state over an unbounded stream via
  * KeyValueGroupedDataset.flatMapGroupsWithState — the extension point for
  * semantics the built-in windows can't express. State is per-key, stored
  * in the state store (checkpointed, bounded by explicit timeouts), so the
  * operator scales by key partitioning like every other keyed op.
  *
  * The reference's only state is the unacked map
  * (/root/reference/common/unacked.go); this generalizes that pattern:
  * track per-key progress and emit on change, expiring idle keys.
  */
object StatefulOps {

  final case class KeyedEvent(key: Long, ts: Timestamp, value: Double)

  final case class KeyProgress(
      key: Long,
      events: Long, // events seen so far
      total: Double, // running value sum
      lastTs: Timestamp, // most recent event time
      expired: Boolean) // true on the timeout-emitted final record

  /** Internal state record (public: encoder codegen requires accessible
    * accessors).
    */
  final case class St(events: Long, total: Double, lastMs: Long)

  final case class Tok(key: String, token: String)

  /** MG sketch state: the capped counter map plus the stream length seen
    * so far (public: encoder codegen requires accessible accessors).
    */
  final case class TrendState(counts: Map[String, Long], n: Long)

  final case class Trending(key: String, token: String, est: Long, n: Long)

  /** Streaming trending-token monitor: per key (e.g. language or source),
    * a [[graft.functions.MisraGries]] summary maintained as keyed state —
    * the STREAMING face of q_heavy_hitters, running the very same
    * `reduce` the batch Aggregator runs (one definition, two runtimes —
    * the q_stats_windows/StreamingFunnel parity pattern, here for
    * sketches). Each micro-batch folds its tokens into the state and
    * re-emits the key's current ≤ k candidates with their estimates and
    * the stream length n, so a dashboard can apply MG's guarantee
    * (any token with true count > n/(k+1) is present; estimates
    * undercount by ≤ n/(k+1)) at every point in the stream.
    *
    * State is O(k) per key FOREVER — no timeout needed for boundedness,
    * which is the sketch's whole point on an unbounded token stream; pair
    * with an exact pruned re-count over the archived corpus (the batch
    * key) when exact figures are needed.
    */
  def trendingTokens(toks: Dataset[Tok], k: Int): Dataset[Trending] = {
    implicit val stEnc = Encoders.product[TrendState]
    implicit val outEnc = Encoders.product[Trending]
    implicit val keyEnc = Encoders.STRING
    val agg = new graft.functions.MisraGries(k) // Aggregator is Serializable
    toks
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[Tok], state: GroupState[TrendState]) => {
          val prev = state.getOption.getOrElse(TrendState(Map.empty, 0L))
          val buf = scala.collection.mutable.Map.empty[String, Long] ++= prev.counts
          var n = prev.n
          rows.foreach { t => agg.reduce(buf, t.token); n += 1 }
          val st = TrendState(buf.toMap, n)
          state.update(st)
          st.counts.iterator.map { case (tok, est) => Trending(key, tok, est, n) }
        })
  }

  /** One CDC change-log record: `tsMicros` + `seq` totally order the log
    * per key (seq is the unique tiebreak — the batch face uses event_id);
    * `op` is the change type, one value of which is the delete marker.
    */
  final case class Change(key: Long, tsMicros: Long, seq: Long, op: String,
      value: Double)

  /** Keyed CDC state: the latest-so-far change plus the change count
    * (public: encoder codegen requires accessible accessors).
    */
  final case class CdcState(tsMicros: Long, seq: Long, op: String,
      value: Double, n: Long)

  final case class CdcSnap(key: Long, lastType: String, lastValue: Double,
      lastTsMicros: Long, nChanges: Long, deleted: Boolean)

  /** Streaming CDC apply — the STREAMING face of q_cdc_apply
    * (ops/Relational.scala): maintain the latest-wins MERGE snapshot of an
    * unbounded change log as keyed state, honoring delete markers. Every
    * micro-batch folds its changes in ((tsMicros, seq) lexicographic
    * later-wins — ARRIVAL ORDER NEVER MATTERS, late or reordered changes
    * fold to the same state, the StreamingFunnel property) and re-emits
    * the key's current snapshot row; `deleted` carries tombstones so a
    * downstream sink can retract (emitting nothing would leave a stale
    * row live downstream — and a later un-delete must resurface the key,
    * so state is kept, not removed, on delete).
    *
    * State is O(1) per live key — the snapshot IS the state, exactly the
    * reference bus's unacked-map shape (common/unacked.go) generalized
    * from "delivered?" to "current version". No timeout: a dimension
    * snapshot must not forget idle keys; compose with runningTotals-style
    * event-time expiry when the key space is genuinely unbounded.
    * StatefulSpec pins the final emission per key frame-for-frame equal
    * to the batch q_cdc_apply window on the same log, fed shuffled.
    */
  def cdcSnapshot(changes: Dataset[Change],
      deleteOp: String = "error"): Dataset[CdcSnap] = {
    implicit val stEnc = Encoders.product[CdcState]
    implicit val outEnc = Encoders.product[CdcSnap]
    implicit val keyEnc = Encoders.scalaLong
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (key: Long, rows: Iterator[Change], state: GroupState[CdcState]) => {
          var st = state.getOption.orNull
          rows.foreach { c =>
            val later = st == null || c.tsMicros > st.tsMicros ||
              (c.tsMicros == st.tsMicros && c.seq > st.seq)
            st =
              if (later) CdcState(c.tsMicros, c.seq, c.op, c.value,
                if (st == null) 1L else st.n + 1L)
              else st.copy(n = st.n + 1L)
          }
          state.update(st)
          Iterator.single(CdcSnap(key, st.op, st.value, st.tsMicros, st.n,
            deleted = st.op == deleteOp))
        })
  }

  /** Per-key running (count, sum) emitted on every update; a key whose
    * last event is older than `idleMs` of EVENT time when the watermark
    * passes emits one final `expired = true` record and its state is
    * dropped — bounded state on an unbounded key space, which a naive
    * groupBy can't do. Event-time (not processing-time) timeout on
    * purpose: processing-time timeouts force the engine into continuous
    * empty timeout-check batches; event-time expiry advances with the
    * watermark like every other streaming state here ([[WatermarkFold]]).
    */
  def runningTotals(events: Dataset[KeyedEvent], idleMs: Long,
      lateness: String = "10 minutes"): Dataset[KeyProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    WatermarkFold[Long, KeyedEvent, St, KeyProgress](events.toDF(), "ts",
        lateness, col("key"), col("value"))(_.key) { (key, old, rows, _) =>
      val prev = old.getOrElse(St(0L, 0.0, 0L))
      val batch = rows.toSeq
      if (batch.isEmpty) // the idle timeout fired: final record, state dropped
        Next(Seq(KeyProgress(key, prev.events, prev.total,
          new Timestamp(prev.lastMs), expired = true)), None)
      else {
        val st = St(
          prev.events + batch.size,
          prev.total + batch.map(_.value).sum,
          math.max(prev.lastMs, batch.map(_.ts.getTime).max))
        Next(Seq(KeyProgress(key, st.events, st.total,
          new Timestamp(st.lastMs), expired = false)), Some(st),
          Some(st.lastMs + idleMs))
      }
    }
  }
}
