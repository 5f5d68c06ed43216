package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.KeyedEvent

/** Custom keyed state (flatMapGroupsWithState): per-key running totals
  * accumulate across micro-batches, and idle keys expire with a final
  * record — bounded state on an unbounded key space.
  */
class StatefulSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("state accumulates across micro-batches and idle keys expire") {
    val in = MemoryStream[KeyedEvent](spark)
    val out = StatefulOps.runningTotals(in.toDS(), idleMs = 30 * 60 * 1000L,
      lateness = "5 minutes")
    val q = out.writeStream.format("memory").queryName("stateful_rt")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(KeyedEvent(1L, ts("2024-01-01 10:00:00"), 2.0),
        KeyedEvent(2L, ts("2024-01-01 10:00:00"), 5.0))
      q.processAllAvailable()
      in.addData(KeyedEvent(1L, ts("2024-01-01 10:01:00"), 3.0))
      q.processAllAvailable()
      // advance the watermark far past key 1/2 idle horizon → both expire
      in.addData(KeyedEvent(9L, ts("2024-01-01 14:00:00"), 1.0))
      q.processAllAvailable()
      in.addData(KeyedEvent(9L, ts("2024-01-01 14:00:01"), 1.0))
      q.processAllAvailable()

      val rows = spark.table("stateful_rt")
        .select($"key", $"events", $"total", $"expired")
        .as[(Long, Long, Double, Boolean)].collect().toSeq
      // batch 1 emits (1 → 1 event, 2.0), (2 → 1 event, 5.0);
      // batch 2 emits the UPDATED key-1 state: 2 events, 5.0 total
      assert(rows.contains((1L, 1L, 2.0, false)))
      assert(rows.contains((2L, 1L, 5.0, false)))
      assert(rows.contains((1L, 2L, 5.0, false)),
        "second batch must see state from the first")
      assert(rows.contains((1L, 2L, 5.0, true)), "idle key 1 must expire")
      assert(rows.contains((2L, 1L, 5.0, true)), "idle key 2 must expire")
    } finally q.stop()
  }

  test("runningTotals survives an admissible straggler whose idle deadline " +
      "the watermark has already passed") {
    // the late-row filter runs on the PREVIOUS batch's watermark, the
    // timeout on the current one: key 1's 11:00 row is admitted in batch 2
    // while its deadline (11:01) is behind the 11:50 watermark — the wake
    // time must clamp to wm + 1, not kill the query. No-data batches are
    // off so the straggler lands in the very next batch.
    val conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.getOption(conf)
    spark.conf.set(conf, "false")
    val in = MemoryStream[KeyedEvent](spark)
    val out = StatefulOps.runningTotals(in.toDS(), idleMs = 60 * 1000L,
      lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("stateful_straggler")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(KeyedEvent(1L, ts("2024-01-01 10:00:00"), 2.0),
        KeyedEvent(2L, ts("2024-01-01 12:00:00"), 5.0))
      q.processAllAvailable()
      in.addData(KeyedEvent(1L, ts("2024-01-01 11:00:00"), 3.0))
      q.processAllAvailable()
      // two far-future rows: the first moves the watermark past every
      // deadline, the second runs the timeout sweep
      in.addData(KeyedEvent(9L, ts("2024-01-01 14:00:00"), 1.0))
      q.processAllAvailable()
      in.addData(KeyedEvent(9L, ts("2024-01-01 14:00:01"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("stateful_straggler")
        .select($"key", $"events", $"total", $"expired")
        .as[(Long, Long, Double, Boolean)].collect().toSeq
      assert(rows.contains((1L, 2L, 5.0, false)),
        "the straggler must fold into key 1's state")
      assert(rows.contains((1L, 2L, 5.0, true)), "key 1 must still expire")
      assert(rows.contains((2L, 1L, 5.0, true)), "key 2 must expire")
    } finally {
      q.stop()
      saved match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("trendingTokens: streaming MG state equals the sequential batch fold, " +
      "with the heavy-hitter guarantee at every emission") {
    import graft.streaming.StatefulOps.Tok
    val k = 4
    // two keys, arrival order fixed; 'hot' dominates key a, tail churns
    val b1 = Seq("hot", "hot", "x1", "x2", "hot", "x3").map(Tok("a", _)) ++
      Seq("w", "w", "y1").map(Tok("b", _))
    val b2 = Seq("hot", "x4", "x5", "hot", "x1").map(Tok("a", _))
    val b3 = Seq("hot", "x6", "hot", "x2", "x7", "hot").map(Tok("a", _)) ++
      Seq("w", "y2", "w").map(Tok("b", _))
    val batches = Seq(b1, b2, b3)

    val in = MemoryStream[Tok](spark)
    val out = StatefulOps.trendingTokens(in.toDS(), k)
    val q = out.writeStream.format("memory").queryName("trending")
      .outputMode(OutputMode.Update()).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val rows = spark.table("trending")
        .select($"key", $"token", $"est", $"n")
        .as[(String, String, Long, Long)].collect().toSeq

      // final emission per key = the LAST row set for the max n seen
      val agg = new graft.functions.MisraGries(k)
      Seq("a", "b").foreach { key =>
        val stream = batches.flatten.filter(_.key == key).map(_.token)
        // one definition, two runtimes: the streaming state must equal the
        // MG fold over the concatenated arrival-order stream
        val expected = agg.finish(stream.foldLeft(agg.zero)(agg.reduce))
        val finalN = stream.size.toLong
        val got = rows.filter(r => r._1 == key && r._4 == finalN)
          .map(r => r._2 -> r._3).toMap
        assert(got == expected,
          s"key $key: streaming summary diverged from the batch fold")
        // MG guarantee holds at the final point
        val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
        exact.foreach { case (tok, c) =>
          if (c > finalN.toDouble / (k + 1))
            assert(got.contains(tok), s"key $key: heavy hitter $tok missing")
        }
      }
      // every intermediate emission respects the capacity bound
      rows.groupBy(r => (r._1, r._4)).foreach { case ((key, n), rs) =>
        assert(rs.size <= k, s"key $key at n=$n emitted more than k rows")
      }
    } finally q.stop()
  }

  test("cdcSnapshot: streaming latest-wins state equals the batch q_cdc_apply " +
      "window on the same log, fed SHUFFLED across micro-batches") {
    import graft.streaming.StatefulOps.{Change, CdcSnap}
    import org.apache.spark.sql.functions._
    // the real fixture log: events at sf0.001, µs timestamps, event_id as
    // the unique seq — identical input to the batch face
    val changes = graft.ops.tbl(spark, sfDir, "events")
      .select(col("user_id").as("key"),
        (unix_micros(col("ts"))).as("tsMicros"),
        col("event_id").as("seq"), col("event_type").as("op"), col("value"))
      .as[Change].collect().toSeq
    // deterministic shuffle: hash order, NOT log order — arrival-order
    // independence is the property under test
    val shuffled = changes.sortBy(c => scala.util.hashing.MurmurHash3
      .productHash((c.seq, c.key)))
    val batches = shuffled.grouped(shuffled.size / 3 + 1).toSeq

    val in = MemoryStream[Change](spark)
    val out = StatefulOps.cdcSnapshot(in.toDS())
    val q = out.writeStream.format("memory").queryName("cdc_snap")
      .outputMode(OutputMode.Update()).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val rows = spark.table("cdc_snap")
        .as[CdcSnap].collect().toSeq
      // final emission per key = the row carrying the key's full change
      // count; live keys must equal the batch window, deleted keys must
      // be tombstones that the batch face (correctly) omits
      val finalByKey = rows.groupBy(_.key).map { case (k, rs) =>
        k -> rs.maxBy(_.nChanges)
      }
      val batchRows = query("q_cdc_apply")
        .select(col("user_id"), col("last_type"), col("last_value"),
          unix_micros(col("last_ts")), col("n_changes"))
        .as[(Long, String, Double, Long, Long)].collect().toSeq
      val batchByKey = batchRows.map(r => r._1 -> r).toMap
      batchByKey.foreach { case (k, (_, lt, lv, lts, nc)) =>
        val s = finalByKey(k)
        assert(!s.deleted && s.lastType == lt && s.lastValue == lv &&
          s.lastTsMicros == lts && s.nChanges == nc,
          s"key $k: streaming snapshot ${s} diverged from batch ($lt,$lv,$lts,$nc)")
      }
      finalByKey.foreach { case (k, s) =>
        assert(batchByKey.contains(k) != s.deleted,
          s"key $k: deleted=${s.deleted} must mean absent from the batch snapshot")
      }
    } finally q.stop()
  }
}
