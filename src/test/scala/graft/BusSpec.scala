package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.bus._

/** stream_bus_e2e — the §2-A capstone golden test, replicating the
  * reference's Example() integration scenario
  * (/root/reference/frizzle_integration_test.go:82-131, expected block
  * 124-130) on Structured Streaming:
  * inputs [foo, BAR, fail, baSil, frizzle]; rules: payload "fail" → Fail;
  * all-lowercase → Send to "all-lower" and Ack; else Ack only.
  * Expected: sent = [foo, frizzle]; failed = [fail]; processed chars
  * (non-failed payload lengths) = 18; counters rcv=5 send=2 ack=4 fail=1
  * failsink=1.
  */
class BusSpec extends SparkSpec {

  private def newBus(withSep: Boolean = false) = {
    val src = new MemorySource(spark)
    val sink = new MemorySink
    val dlq = new MemorySink
    val isLower = col("data").cast("string").rlike("^[a-z]+$")
    val bus = new FrizzleStream(
      spark, src,
      FrizzleStream.exprProcessor(
        dest = when(isLower && col("data").cast("string") =!= "fail", "all-lower"),
        failed = col("data").cast("string") === "fail"),
      sink, Some(dlq),
      receiveTransforms = if (withSep) Seq(SeparatorTransform.utf8("\n")) else Nil,
      sendTransforms = if (withSep) Seq(SeparatorTransform.utf8("\n")) else Nil,
      checkpointDir = Some(Files.createTempDirectory("busck").toString))
    (src, sink, dlq, bus)
  }

  private val inputs = Seq("foo", "BAR", "fail", "baSil", "frizzle")

  test("stream_bus_e2e golden scenario") {
    val (src, sink, dlq, bus) = newBus()
    bus.start()
    src.put(inputs.zipWithIndex.map { case (s, i) => Msg.utf8(s"m$i", s) }: _*)
    bus.awaitIdle()

    assert(sink.sent("all-lower").map(_.dataUtf8).sorted == Seq("foo", "frizzle"))
    assert(dlq.sent("failed").map(_.dataUtf8) == Seq("fail"))
    val chars = inputs.filterNot(_ == "fail").map(_.length).sum
    assert(chars == 18) // the reference Example()'s processed-character count
    assert(bus.stats.snapshot == Map(
      "rcv" -> 5L, "send" -> 2L, "ack" -> 4L, "fail" -> 1L,
      "failsink" -> 1L, "error" -> 0L))
    bus.flushAndClose(10000)
  }

  test("separator transform frames on send and strips on receive") {
    val (src, sink, dlq, bus) = newBus(withSep = true)
    bus.start()
    // simulate wire input that arrives framed: payloads carry trailing \n
    src.put(inputs.zipWithIndex.map { case (s, i) => Msg.utf8(s"m$i", s + "\n") }: _*)
    bus.awaitIdle()
    // receive strips the frame (so routing rules saw bare payloads);
    // send re-frames on the way out.
    assert(sink.sent("all-lower").map(_.dataUtf8).sorted == Seq("foo\n", "frizzle\n"))
    assert(dlq.sent("failed").map(_.dataUtf8) == Seq("fail\n") ||
      dlq.sent("failed").map(_.dataUtf8) == Seq("fail"))
    bus.flushAndClose(10000)
  }

  test("separator send∘receive is identity (multi-byte sep)") {
    // mirrors /root/reference/transform_test.go:14-56
    import spark.implicits._
    val t = SeparatorTransform.utf8("end of file{}#")
    val df = Seq(Msg.utf8("a", "payload"), Msg.utf8("b", "")).toDF()
    val round = t.onReceive(t.onSend(df)).as[Msg].collect()
    assert(round.map(_.dataUtf8).toSeq == Seq("payload", ""))
    // receive without a frame is a no-op
    val bare = t.onReceive(df).as[Msg].collect()
    assert(bare.map(_.dataUtf8).toSeq == Seq("payload", ""))
  }

  test("bus chaining hands off through the store, not the driver (A18)") {
    val src1 = new MemorySource(spark)
    val spool = Files.createTempDirectory("busspool").toString
    val end = new MemorySink
    // bus1 routes everything to "mid", writing the spool executor-side
    val bus1 = new FrizzleStream(spark, src1,
      FrizzleStream.exprProcessor(dest = lit("mid"), failed = lit(false)),
      new FileAdapters.ParquetDirSink(spool),
      checkpointDir = Some(Files.createTempDirectory("busck1").toString))
    // bus2 streams the spool's "mid" subtree and routes all-lowercase to "out"
    val bus2 = new FrizzleStream(spark, FileAdapters.chainSource(spool, "mid"),
      FrizzleStream.exprProcessor(
        dest = when(col("data").cast("string").rlike("^[a-z]+$"), "out"),
        failed = lit(false)),
      end,
      checkpointDir = Some(Files.createTempDirectory("busck2").toString))
    bus1.start(); bus2.start()
    src1.put(Msg.utf8("1", "abc"), Msg.utf8("2", "DEF"))
    bus1.awaitIdle(); bus2.awaitIdle()
    assert(end.sent("out").map(_.dataUtf8) == Seq("abc"))
    assert(bus1.stats.send.get == 2 && bus2.stats.send.get == 1)
    bus1.flushAndClose(10000); bus2.flushAndClose(10000)
  }

  test("in-process bus chaining: one MemoryChain is both buses' Source and Sink (A18)") {
    // The Friz-as-Source/Sink conformance path (frizzle.go:23-25): the
    // SAME object is bus1's sink and bus2's source, no spool between.
    val src1 = new MemorySource(spark)
    val chain = new MemoryChain(spark, dests = Some(Set("mid")))
    val dlq = new MemorySink
    val end = new MemorySink
    // bus1 routes lowercase to the chained "mid", everything else to
    // "elsewhere" — which the chain declares unaddressable, so those rows
    // must DEAD-LETTER (no silent loss at the link)
    val bus1 = new FrizzleStream(spark, src1,
      FrizzleStream.exprProcessor(
        dest = when(col("data").cast("string").rlike("^[a-z]+$"), "mid")
          .otherwise("elsewhere"),
        failed = lit(false)),
      chain, failSink = Some(dlq),
      checkpointDir = Some(Files.createTempDirectory("busck1m").toString))
    val bus2 = new FrizzleStream(spark, chain,
      FrizzleStream.exprProcessor(dest = lit("out"), failed = lit(false)),
      end,
      checkpointDir = Some(Files.createTempDirectory("busck2m").toString))
    bus1.start(); bus2.start()
    src1.put(Msg.utf8("1", "abc"), Msg.utf8("2", "DEF"), Msg.utf8("3", "ghi"))
    bus1.awaitIdle(); bus2.awaitIdle()
    assert(end.sent("out").map(_.dataUtf8).sorted == Seq("abc", "ghi"))
    assert(dlq.sent("failed").map(_.dataUtf8) == Seq("DEF"))
    assert(chain.forwarded == 2 && chain.replays == 0)
    assert(bus1.stats.send.get == 2 && bus1.stats.fail.get == 1)
    assert(bus2.stats.send.get == 2 && bus2.stats.ack.get == 2)
    bus1.flushAndClose(10000); bus2.flushAndClose(10000)
  }

  test("MemoryChain epoch cap: replay AT the boundary stays a dedup, new epoch refuses") {
    // r17 ADVICE: the cap guard must run AFTER the dedup short-circuit —
    // a redelivered already-admitted epoch is at-least-once replay
    // tolerance and must not throw just because the ledger is full.
    import spark.implicits._
    val chain = new MemoryChain(spark, maxTrackedEpochs = 2)
    def ds(id: String, s: String) = Seq(Msg.utf8(id, s)).toDS()
    chain.write(ds("1", "a"), "d", 0L)
    chain.write(ds("2", "b"), "d", 1L) // ledger now exactly at the cap
    chain.write(ds("1", "a"), "d", 0L) // replay at the boundary → dedup
    assert(chain.replays == 1 && chain.forwarded == 2)
    intercept[IllegalStateException] { chain.write(ds("3", "c"), "d", 2L) }
    chain.write(ds("2", "b"), "d", 1L) // refusal left the ledger intact
    assert(chain.replays == 2 && chain.forwarded == 2)
  }

  test("MemoryChain row cap: crossing write refuses and rolls back its reservation") {
    // r17 ADVICE: capacity is reserved with addAndGet-then-check so
    // concurrent sink tasks cannot jointly overshoot; the refused epoch
    // rolls back BOTH the row reservation and its ledger entry.
    import spark.implicits._
    val chain = new MemoryChain(spark, maxBufferedRows = 2L)
    chain.write(Seq(Msg.utf8("1", "a"), Msg.utf8("2", "b")).toDS(), "d", 0L)
    intercept[IllegalStateException] {
      chain.write(Seq(Msg.utf8("3", "c")).toDS(), "d", 1L)
    }
    assert(chain.forwarded == 2 && chain.replays == 0)
    // the refused epoch is NOT remembered as admitted: a later retry (after
    // a downstream drain freed capacity in a fresh chain) is a real write,
    // and a resubmit here refuses again rather than silently deduping
    intercept[IllegalStateException] {
      chain.write(Seq(Msg.utf8("3", "c")).toDS(), "d", 1L)
    }
    assert(chain.replays == 0)
  }

  test("flushAndClose drains pending input before closing (A15)") {
    val (src, sink, _, bus) = newBus()
    bus.start()
    src.put(Msg.utf8("x", "zzz"))
    bus.flushAndClose(15000) // must process the pending message, then stop
    assert(sink.sent("all-lower").map(_.dataUtf8) == Seq("zzz"))
    assert(bus.stats.ack.get == 1)
  }

  test("failing processor surfaces error stats and events (A14)") {
    val src = new MemorySource(spark)
    val bus = new FrizzleStream(spark, src,
      process = df => df.withColumn("dest", lit("x"))
        .withColumn("failed", expr("raise_error('boom')").isNotNull),
      sink = new MemorySink,
      checkpointDir = Some(java.nio.file.Files.createTempDirectory("buserr").toString))
    bus.start()
    src.put(Msg.utf8("1", "a"))
    intercept[Exception](bus.awaitIdle())
    assert(bus.stats.error.get >= 1, "batch failure must increment ctr.error")
    assert(bus.events.exists(_.level == "error"), "an error event must be emitted")
    try bus.flushAndClose(5000) catch { case _: Exception => () } // already dead
  }

  test("memory sink drops replayed (batchId, dest) writes (A6 dedup)") {
    import spark.implicits._
    val sink = new MemorySink
    val ds = Seq(Msg.utf8("1", "a")).toDS()
    sink.write(ds, "t", 7L)
    assert(sink.replays == 0)
    sink.write(ds, "t", 7L) // replay of the same epoch
    assert(sink.sent("t").size == 1)
    // the dropped duplicate is OBSERVABLE — the ErrAlreadyAcked analog
    // (reference msg.go:8-10): epoch ack surfaces double-delivery as a
    // counted replay instead of a per-Msg error return
    assert(sink.replays == 1)
  }

  test("memory sink re-accepts the replay after a failed write") {
    import spark.implicits._
    val sink = new MemorySink
    val good = Seq(Msg.utf8("1", "a")).toDS()
    // a batch whose evaluation throws: the epoch must NOT be marked seen
    val bad = good.filter((_: Msg) => sys.error("boom"))
    intercept[Exception](sink.write(bad, "t", 3L))
    sink.write(good, "t", 3L) // epoch replay after failure must land
    assert(sink.sent("t").map(_.dataUtf8) == Seq("a"))
    sink.write(good, "t", 3L) // …and further replays still dedup
    assert(sink.sent("t").size == 1)
  }

  test("listener events and stats are isolated per bus (two buses, one session)") {
    val (src1, _, _, bus1) = newBus()
    val (src2, _, _, bus2) = newBus()
    bus1.start(); bus2.start()
    src1.put(Msg.utf8("a", "foo"))
    src2.put(Msg.utf8("b", "bar"), Msg.utf8("c", "baz"))
    bus1.awaitIdle(); bus2.awaitIdle()
    assert(bus1.stats.rcv.get == 1 && bus2.stats.rcv.get == 2)
    // each bus records exactly its own lifecycle: one started event, no
    // absorption of the sibling query's events
    assert(bus1.events.count(_.message.startsWith("query started")) == 1)
    assert(bus2.events.count(_.message.startsWith("query started")) == 1)
    bus1.flushAndClose(10000); bus2.flushAndClose(10000)
    assert(bus1.events.count(_.message.startsWith("query terminated")) <= 1)
    assert(bus2.events.count(_.message.startsWith("query terminated")) <= 1)
  }

  test("periodic rate report is emitted from progress (A13 ticker analog)") {
    val src = new MemorySource(spark)
    val bus = new FrizzleStream(spark, src,
      FrizzleStream.exprProcessor(dest = lit("out"), failed = lit(false)),
      new MemorySink,
      checkpointDir = Some(Files.createTempDirectory("busrate").toString),
      rateLogIntervalMs = 0L) // log on every progress event for the test
    bus.start()
    src.put(Msg.utf8("1", "a"))
    bus.awaitIdle()
    // progress events arrive asynchronously after the epoch commits
    val deadline = System.currentTimeMillis() + 10000
    while (!bus.events.exists(_.message.startsWith("rate:")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(bus.events.exists(e => e.level == "info" && e.message.startsWith("rate:")),
      s"a rate line must be emitted: ${bus.events}")
    bus.flushAndClose(10000)
  }

  test("unaddressable data-computed dest dead-letters; the epoch still commits (A4/A7)") {
    import spark.implicits._
    val src = new MemorySource(spark)
    val spool = Files.createTempDirectory("poison_out").toString + "/routed"
    val dlq = new MemorySink
    val bus = new FrizzleStream(spark, src,
      // dest comes straight from the DATA: a buggy/malicious payload can
      // compute a dest the path-partitioned sink cannot address — the bus
      // must dead-letter those rows, never let the sink throw (a throw
      // would terminate the query and replay the poison on every
      // checkpoint restart: a permanent halt)
      //
      // "nullfail" gets a null `failed` and "nodest" a null `dest` (not
      // failed): both count in rcv and ack only — never sent, never failed
      FrizzleStream.exprProcessor(
        dest = when(col("data").cast("string") =!= "nodest", col("data").cast("string")),
        failed = when(col("data").cast("string") =!= "nullfail",
          col("data").cast("string") === "fail")),
      new FileAdapters.ParquetDirSink(spool), Some(dlq),
      checkpointDir = Some(Files.createTempDirectory("poison_ck").toString))
    bus.start()
    src.put(Msg.utf8("1", "ok"), Msg.utf8("2", "a*b"), Msg.utf8("3", "fail"),
      Msg.utf8("4", "nullfail"), Msg.utf8("5", "nodest"))
    bus.awaitIdle() // must NOT throw: the poison dest never reaches sink.write
    assert(spark.read.parquet(spool)
      .select(col("data").cast("string")).as[String].collect().toSeq == Seq("ok"))
    // ONE dead-letter write carries both the processor-failed row and the
    // unaddressable-dest row (two writes to the same (batchId, failDest)
    // would be deduped away by an idempotent fail sink)
    assert(dlq.sent("failed").map(_.dataUtf8).sorted == Seq("a*b", "fail"))
    assert(bus.stats.snapshot == Map(
      "rcv" -> 5L, "send" -> 1L, "ack" -> 3L, "fail" -> 2L,
      "failsink" -> 2L, "error" -> 0L))
    assert(bus.events.exists(e =>
      e.level == "error" && e.message.contains("unaddressable")),
      s"routing must surface an event: ${bus.events}")
    bus.flushAndClose(10000)
  }

  test("terminal non-batch error counts once in ctr.error (A14 parity)") {
    // corrupt the checkpoint BEFORE first start: the stream thread fails
    // reading the offset log before any batch runs — an error path that
    // never enters runBatch, so only the terminated-listener can count it
    // (reference: one ctr.error per occurrence, options.go:95-99)
    val ck = Files.createTempDirectory("ck_corrupt")
    Files.createDirectories(ck.resolve("offsets"))
    Files.write(ck.resolve("offsets").resolve("0"),
      "garbage, not an offset log".getBytes("UTF-8"))
    val src = new MemorySource(spark)
    val bus = new FrizzleStream(spark, src,
      FrizzleStream.exprProcessor(dest = lit("x"), failed = lit(false)),
      new MemorySink,
      checkpointDir = Some(ck.toString))
    try bus.start() catch { case _: Exception => () }
    // listener delivery is async; poll for the count
    val deadline = System.currentTimeMillis() + 15000
    while (bus.stats.error.get == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(bus.stats.error.get == 1,
      s"terminal non-batch error must count exactly once: ${bus.events}")
    assert(bus.stats.rcv.get == 0, "no batch may have run")
    try bus.flushAndClose(5000) catch { case _: Exception => () }
  }

  test("flushAndClose refuses to report a clean close when the drain times out (A15/A16)") {
    val src = new MemorySource(spark)
    val sink = new MemorySink
    val bus = new FrizzleStream(spark, src,
      // a processor that stalls longer than the flush budget: the message
      // is in flight when the timeout expires
      process = df => {
        Thread.sleep(5000)
        df.withColumn("dest", lit("out")).withColumn("failed", lit(false))
      },
      sink,
      checkpointDir = Some(Files.createTempDirectory("stall_ck").toString))
    bus.start()
    src.put(Msg.utf8("1", "pending"))
    val drained = bus.flushAndClose(500)
    // ErrUnackedMsgsRemain parity (basic/source.go:108-117): the close
    // cannot be refused (the checkpoint keeps the offsets), but it must
    // not LOOK clean either
    assert(!drained, "drain timed out with a message in flight — must report false")
    assert(bus.events.exists(e =>
      e.level == "error" && e.message.contains("drain timed out")),
      s"refusal must surface as an error event: ${bus.events}")
  }

  test("start() fails fast on a failDest the fail sink cannot address") {
    // failDest is config, not data: if the fail sink's path layout cannot
    // carry it, the FIRST dead-letter write would poison the bus (epoch
    // fails inside requireSafeDest and replays forever). start() must
    // refuse up front instead.
    val tmp = Files.createTempDirectory("dlqdir").toString
    val src = new MemorySource(spark)
    val dlq = new FileAdapters.ParquetDirSink(tmp)
    val bus = new FrizzleStream(
      spark, src, FrizzleStream.exprProcessor(dest = lit("ok"), failed = lit(false)),
      new MemorySink, Some(dlq), failDest = "dead*letter")
    val err = intercept[IllegalArgumentException](bus.start())
    assert(err.getMessage.contains("failDest"), err.getMessage)
    src.close()
  }

  test("AddOptions rewires the fail sink and send transforms on a LIVE bus") {
    // reference parity: AddOptions mutates a running Friz — including
    // FailSink rewiring picked up mid-run (frizzle.go:82-87,
    // options.go:35-41,88-90). Here the pickup granularity is the epoch:
    // the rewire lands between micro-batches, the next epoch snapshots the
    // new config, and everything already written stays where it was.
    val (src, sink, dlq, bus) = newBus()
    bus.start()
    src.put(Msg.utf8("a1", "fail"), Msg.utf8("a2", "foo"))
    bus.awaitIdle()
    assert(dlq.sent("failed").map(_.dataUtf8) == Seq("fail"))
    assert(sink.sent("all-lower").map(_.dataUtf8) == Seq("foo"))

    // live rewire: replace the DLQ (new dest too) and add a send framing
    val dlq2 = new MemorySink
    bus.withFailSink(dlq2, Some("dead2"))
      .addSendTransforms(SeparatorTransform.utf8("\n"))
    src.put(Msg.utf8("b1", "fail"), Msg.utf8("b2", "bar"))
    bus.awaitIdle()

    // old DLQ untouched; the new dead letter lands in the rewired sink+dest
    assert(dlq.sent("failed").map(_.dataUtf8) == Seq("fail"))
    assert(dlq2.sent("dead2").map(_.dataUtf8) == Seq("fail"))
    // post-rewire sends carry the added frame; pre-rewire output unchanged
    assert(sink.sent("all-lower").map(_.dataUtf8).sorted == Seq("bar\n", "foo"))
    // counters accumulate seamlessly across the rewire
    assert(bus.stats.snapshot == Map(
      "rcv" -> 4L, "send" -> 2L, "ack" -> 2L, "fail" -> 2L,
      "failsink" -> 2L, "error" -> 0L))
    // the rewire is observable in the bus event stream (A11)
    assert(bus.events.exists(e =>
      e.level == "info" && e.message.contains("live rewire")))
    bus.flushAndClose(10000)
  }

  test("AddOptions rewires RECEIVE transforms on a LIVE bus") {
    // reference parity: the consume loop re-reads f.tforms per message
    // (frizzle.go:97-102), so AddOptions affects the receive direction
    // mid-run too. Our receive chain applies at epoch entry in runBatch
    // (NOT fused into the source plan), so a live append takes effect at
    // the next epoch boundary like every other rewire.
    val (src, sink, _, bus) = newBus()
    bus.start()
    src.put(Msg.utf8("r1", "BAR"))
    bus.awaitIdle()
    // uppercase payload routes nowhere pre-rewire (processor only sends
    // all-lowercase data)
    assert(sink.sent("all-lower").isEmpty)

    // live receive rewire: lowercase incoming payloads BEFORE routing
    val lowerReceive = new MsgTransform {
      def onReceive(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("data", encode(lower(col("data").cast("string")), "UTF-8"))
      def onSend(df: org.apache.spark.sql.DataFrame) = df
    }
    bus.addReceiveTransforms(lowerReceive)
    src.put(Msg.utf8("r2", "BAZ"))
    bus.awaitIdle()
    // the next epoch sees the rewired receive chain: BAZ → baz → routed
    assert(sink.sent("all-lower").map(_.dataUtf8) == Seq("baz"),
      s"post-rewire epoch must apply the added receive transform: " +
        s"${sink.sent("all-lower").map(_.dataUtf8)}")
    assert(bus.events.exists(e =>
      e.level == "info" && e.message.contains("receive transform")))
    bus.flushAndClose(10000)
  }

  test("concurrent AddOptions calls never lose a transform (mutator lock)") {
    // regression for the r10 advice: addSendTransforms was a non-atomic
    // read-modify-write on a volatile — two racing callers could drop a
    // transform. 4 threads × 25 appends each; the next epoch must apply
    // ALL 100 (each transform appends one '.' to the payload, so the
    // routed output's length is the proof — order doesn't matter, count
    // does).
    val (src, sink, _, bus) = newBus()
    bus.start()
    val dot = new MsgTransform {
      def onReceive(df: org.apache.spark.sql.DataFrame) = df
      def onSend(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("data",
          encode(concat(col("data").cast("string"), lit(".")), "UTF-8"))
    }
    val threads = (0 until 4).map { _ =>
      new Thread(() => (0 until 25).foreach(_ => bus.addSendTransforms(dot)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    src.put(Msg.utf8("c1", "abc"))
    bus.awaitIdle()
    val out = sink.sent("all-lower").map(_.dataUtf8)
    assert(out.size == 1 && out.head == "abc" + "." * 100,
      s"all 100 concurrently-added transforms must apply: got ${out.map(_.length)}")
    bus.flushAndClose(10000)
  }

  test("A→B→A fail-sink rewire cycle closes each sink exactly once") {
    // regression: re-installing a previously retired sink left it both in
    // retiredSinks and current → double close at flushAndClose
    final class CountingSink extends BusSink {
      private val inner = new MemorySink
      val closes = new java.util.concurrent.atomic.AtomicInteger
      def write(batch: org.apache.spark.sql.Dataset[Msg], dest: String, batchId: Long): Unit =
        inner.write(batch, dest, batchId)
      override def close(): Unit = closes.incrementAndGet()
    }
    val src = new MemorySource(spark)
    val a = new CountingSink
    val b = new CountingSink
    val bus = new FrizzleStream(spark, src,
      FrizzleStream.exprProcessor(dest = lit(null).cast("string"), failed = lit(true)),
      new MemorySink, Some(a),
      checkpointDir = Some(Files.createTempDirectory("aback").toString))
    bus.start()
    bus.withFailSink(b).withFailSink(a).withFailSink(b).withFailSink(a)
    src.put(Msg.utf8("x", "dead"))
    bus.awaitIdle()
    bus.flushAndClose(10000)
    assert(a.closes.get == 1, s"sink A closed ${a.closes.get} times, expected 1")
    assert(b.closes.get == 1, s"sink B closed ${b.closes.get} times, expected 1")
  }

  test("streaming incremental dedup across micro-batches equals the batch answer") {
    // the scale claim at Dedup.scala (incrementalDedup: "at 100 TB the
    // seen side IS a maintained hash index") as a tested behavior: replay
    // the documents fixture through the bus in doc_id-ordered micro-batches
    // with a SeenHashIndex epoch stage; the surviving set must equal
    // q_dedup_incremental's batch-mode answer exactly.
    import spark.implicits._
    val docs = graft.ops.tbl(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val want = query("q_dedup_incremental")
      .select("doc_id").as[Long].collect().toSet

    val idx = new SeenHashIndex(spark,
      Files.createTempDirectory("seenidx").toString)
    val src = new MemorySource(spark)
    val sink = new MemorySink
    val bus = new FrizzleStream(spark, src,
      process = df => df, // unused: the epoch-aware stage replaces it
      sink,
      checkpointDir = Some(Files.createTempDirectory("incdedup_ck").toString),
      epochProcess = Some((df, epoch) =>
        idx.dedupEpoch(df, epoch)
          .withColumn("dest", lit("kept"))
          .withColumn("failed", lit(false))))
    bus.start()
    // fixed-width ids: the in-epoch first-copy window orders by the string
    // id, which must agree with numeric doc_id order
    def msgs(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => Msg.utf8(f"$id%06d", t) }
    // epoch 0: the already-ingested corpus (doc_id < 100) seeds the index
    src.put(msgs(docs.filter(_._1 < 100).toSeq): _*)
    bus.awaitIdle()
    // the arriving "crawl" (doc_id >= 100) in 3 doc_id-ordered epochs
    val arriving = docs.filter(_._1 >= 100).toSeq
    arriving.grouped(arriving.length / 3 + 1).foreach { g =>
      src.put(msgs(g): _*)
      bus.awaitIdle()
    }
    // one more epoch: copies of a fresh payload, one with a null id, and
    // copies of an already-ingested payload. The first-copy window runs
    // before the index anti-join: exactly the null-id copy must survive
    // (nulls order first), and every already-seen copy must be dropped.
    val fresh = "window-order fresh payload"
    val seenText = docs.head._2
    src.put(Msg.utf8("900002", fresh), Msg.utf8(null, fresh),
      Msg.utf8("900001", fresh), Msg.utf8("900003", seenText),
      Msg.utf8("900004", seenText))
    bus.awaitIdle()
    bus.flushAndClose(20000)
    val kept = sink.sent("kept")
    val freshIds = kept.filter(_.dataUtf8 == fresh).map(_.id)
    assert(freshIds == Seq(null), s"only the null-id copy may survive: $freshIds")
    assert(!kept.exists(m => m.id != null && m.id.startsWith("9000")),
      "no later copy of the fresh payload and no already-seen copy may survive")
    val got = kept.filter(_.id != null).map(_.id.toLong).filter(_ >= 100L).toSet
    assert(got == want,
      s"streaming survivors must equal the batch answer: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("seen-hash index self-compacts mid-stream: bounded dirs, exact answer, replay converges") {
    // without compaction the index grows one epoch=N/ dir per micro-batch,
    // without bound. With compactEvery=3 the index must (a) compact
    // WHILE the stream runs, (b) keep the partition count bounded, (c)
    // still produce exactly q_dedup_incremental's batch answer, and (d)
    // stay replay-idempotent after a compaction has rewritten history.
    import spark.implicits._
    val docs = graft.ops.tbl(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val want = query("q_dedup_incremental")
      .select("doc_id").as[Long].collect().toSet

    val idx = new SeenHashIndex(spark,
      Files.createTempDirectory("seenidx_c").toString, compactEvery = 3)
    val partCounts = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val survivorsByEpoch =
      new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
    @volatile var lastEpoch = -1L
    val src = new MemorySource(spark)
    val sink = new MemorySink
    val bus = new FrizzleStream(spark, src,
      process = df => df,
      sink,
      checkpointDir = Some(Files.createTempDirectory("incdedup_c_ck").toString),
      epochProcess = Some((df, epoch) => {
        partCounts.add(idx.epochs().size) // dir count at epoch entry
        lastEpoch = epoch
        val out = idx.dedupEpoch(df, epoch)
        survivorsByEpoch.put(epoch, out.select("id").as[String].collect().toSet)
        out.withColumn("dest", lit("kept")).withColumn("failed", lit(false))
      }))
    bus.start()
    def msgs(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => Msg.utf8(f"$id%06d", t) }
    // 5 doc_id-ordered epochs: the seed corpus then 4 arriving slices
    src.put(msgs(docs.filter(_._1 < 100).toSeq): _*)
    bus.awaitIdle()
    val arriving = docs.filter(_._1 >= 100).toSeq
    val slices = arriving.grouped(arriving.length / 4 + 1).toSeq
    slices.foreach { g => src.put(msgs(g): _*); bus.awaitIdle() }
    bus.flushAndClose(20000)

    assert(lastEpoch >= 4, s"expected >=5 epochs, saw ${lastEpoch + 1}")
    // (a)+(b): the threshold was reached and a compaction ran mid-stream —
    // the count observed at some later epoch entry DROPPED below the peak
    assert(partCounts.asScala.max >= 3, s"threshold never reached: $partCounts")
    assert(idx.epochs().size <= 3,
      s"directory count must stay bounded: ${idx.epochs()}")
    // (c): exact batch parity, unchanged by compaction
    val got = sink.sent("kept").map(_.id.toLong).filter(_ >= 100L).toSet
    assert(got == want,
      s"streaming survivors must equal the batch answer: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // (d): replay the FINAL epoch against the compacted index — same
    // survivors out, same index state after (overwrite converges)
    val before = idx.seenBefore(lastEpoch + 1).distinct().count()
    val replayDf = spark.createDataset(msgs(slices.last)).toDF()
    val replayIds = idx.dedupEpoch(replayDf, lastEpoch)
      .select("id").as[String].collect().toSet
    assert(replayIds == survivorsByEpoch.get(lastEpoch),
      "replay after compaction must keep the same survivor set")
    assert(idx.seenBefore(lastEpoch + 1).distinct().count() == before,
      "replay must converge to the same index state, not grow it")
  }

  /** A bus routing each message to the dest named by its payload. */
  private def payloadRoutedBus(sink: BusSink, failSink: Option[BusSink] = None,
      statsSink: StatsSink = NoopStatsSink) = {
    val src = new MemorySource(spark)
    val bus = new FrizzleStream(spark, src,
      FrizzleStream.exprProcessor(dest = col("data").cast("string"),
        failed = col("data").cast("string") === "dead"),
      sink, failSink,
      checkpointDir = Some(Files.createTempDirectory("buswave").toString),
      statsSink = statsSink)
    (src, bus)
  }

  private def liveThreads(prefix: String): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(prefix)).map(_.getName)

  test("one epoch's sink writes run concurrently") {
    // each write waits for the other at a latch: serial writes would leave
    // the first one waiting for a write that has not started
    val met = new java.util.concurrent.CountDownLatch(2)
    val inner = new MemorySink
    val sink = new BusSink {
      def write(batch: org.apache.spark.sql.Dataset[Msg], dest: String,
          batchId: Long): Unit = {
        met.countDown()
        if (!met.await(30, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException(s"the write to $dest ran alone")
        inner.write(batch, dest, batchId)
      }
    }
    val (src, bus) = payloadRoutedBus(sink)
    bus.start()
    src.put(Msg.utf8("1", "a"), Msg.utf8("2", "b"))
    bus.awaitIdle()
    assert(inner.sent("a").map(_.dataUtf8) == Seq("a"))
    assert(inner.sent("b").map(_.dataUtf8) == Seq("b"))
    assert(bus.stats.snapshot("send") == 2 && bus.stats.snapshot("error") == 0)
    assert(bus.flushAndClose(10000))
  }

  test("every sink write runs under its epoch's streaming batch id") {
    // the writes leave the micro-batch thread; the engine's batch-id
    // property must travel with each one (a pool thread created in an
    // earlier epoch would otherwise still hold that epoch's)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def recording(inner: BusSink) = new BusSink {
      def write(batch: org.apache.spark.sql.Dataset[Msg], dest: String,
          batchId: Long): Unit = {
        seen.add((batchId, spark.sparkContext.getLocalProperty("streaming.sql.batchId")))
        inner.write(batch, dest, batchId)
      }
    }
    val (src, bus) = payloadRoutedBus(recording(new MemorySink),
      Some(recording(new MemorySink)))
    bus.start()
    src.put(Msg.utf8("1", "a"), Msg.utf8("2", "b"), Msg.utf8("3", "dead"))
    bus.awaitIdle()
    src.put(Msg.utf8("4", "a"), Msg.utf8("5", "b"), Msg.utf8("6", "dead"))
    bus.awaitIdle()
    val writes = seen.asScala.toSeq
    assert(writes.size == 6 && writes.map(_._1).distinct.size == 2,
      s"two epochs of two routes and one dead-letter write each: $writes")
    assert(writes.forall { case (b, p) => p == b.toString },
      s"streaming.sql.batchId must equal the write's batchId: $writes")
    assert(bus.flushAndClose(10000))
  }

  test("a failed write fails the epoch only after its sibling writes returned") {
    val order = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val badThrown = new java.util.concurrent.CountDownLatch(1)
    val errorCounted = new java.util.concurrent.CountDownLatch(1)
    val sink = new BusSink {
      def write(batch: org.apache.spark.sql.Dataset[Msg], dest: String,
          batchId: Long): Unit = dest match {
        case "bad" =>
          order.add("bad-thrown")
          badThrown.countDown()
          throw new IllegalStateException("write to bad failed")
        case _ =>
          // held until its sibling has failed, then held on: a bus that
          // failed the epoch now would count the error while this write
          // still runs. The order below is the proof; the bounded wait
          // only gives such a bus the time to show itself.
          if (!badThrown.await(30, java.util.concurrent.TimeUnit.SECONDS))
            throw new IllegalStateException("the failing write never ran")
          errorCounted.await(3, java.util.concurrent.TimeUnit.SECONDS)
          order.add("held-returned")
      }
    }
    val errors = new StatsSink {
      def increment(bucket: String, n: Long): Unit =
        if (bucket == "error") { order.add("error"); errorCounted.countDown() }
      def gauge(name: String, value: Double): Unit = ()
    }
    val (src, bus) = payloadRoutedBus(sink, statsSink = errors)
    bus.start()
    src.put(Msg.utf8("1", "bad"), Msg.utf8("2", "held"))
    val err = intercept[Exception](bus.awaitIdle())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("write to bad failed")), err)
    assert(order.asScala.toSeq == Seq("bad-thrown", "held-returned", "error"),
      s"the epoch must fail only after every write returned: $order")
    assert(bus.stats.error.get == 1 && bus.stats.send.get == 0)
    try bus.flushAndClose(5000) catch { case _: Exception => () } // already dead
  }

  test("flushAndClose leaves no write-pool thread alive after a drain") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val inner = new MemorySink
    val sink = new BusSink {
      def write(batch: org.apache.spark.sql.Dataset[Msg], dest: String,
          batchId: Long): Unit = {
        ran.add(Thread.currentThread.getName)
        inner.write(batch, dest, batchId)
      }
    }
    val (src, bus) = payloadRoutedBus(sink)
    bus.start()
    src.put(Msg.utf8("1", "a"), Msg.utf8("2", "b"))
    bus.awaitIdle()
    assert(bus.flushAndClose(10000))
    assert(ran.size == 2 && ran.asScala.forall(_.startsWith(bus.writeThreadPrefix)),
      s"writes must run on the bus's write pool: $ran")
    assert(liveThreads(bus.writeThreadPrefix).isEmpty,
      s"write-pool threads alive after close: ${liveThreads(bus.writeThreadPrefix)}")
  }

  test("a timed-out drain cancels the in-flight write and leaves no write-pool thread") {
    // the write runs a Spark job that would stall for a minute; q.stop()
    // cancels it through the query's job group, carried onto the pool
    val stalled = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("busspec.stall") != null)
          stalled.countDown()
    }
    val sink = new BusSink {
      def write(batch: org.apache.spark.sql.Dataset[Msg], dest: String,
          batchId: Long): Unit = {
        spark.sparkContext.setLocalProperty("busspec.stall", "1")
        batch.foreach((_: Msg) => Thread.sleep(60000L))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (src, bus) = payloadRoutedBus(sink)
    try {
      bus.start()
      src.put(Msg.utf8("1", "a"))
      assert(stalled.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the stalling write's job never started")
      val t0 = System.nanoTime()
      assert(!bus.flushAndClose(500), "the drain timed out: must report false")
      val closeMs = (System.nanoTime() - t0) / 1e6
      assert(closeMs < 30000,
        f"q.stop() must cancel the write's job, but close took $closeMs%.0f ms")
      assert(liveThreads(bus.writeThreadPrefix).isEmpty,
        s"write-pool threads alive after close: ${liveThreads(bus.writeThreadPrefix)}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("A17: shutdown sequence flushes and closes the bus BEFORE the app callback") {
    // reference ordering (options.go:116-135): FlushAndClose completes,
    // THEN appShutdown runs — so the app can tear down resources the bus
    // drains into. Pinned via the factored hook body (no real signal).
    val order = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val inner = new MemorySink
    val probeSink = new BusSink {
      def write(batch: org.apache.spark.sql.Dataset[Msg], dest: String,
          batchId: Long): Unit = inner.write(batch, dest, batchId)
      override def close(): Unit = order.add("sink_closed")
    }
    val src = new MemorySource(spark)
    val bus = new FrizzleStream(spark, src,
      FrizzleStream.exprProcessor(dest = lit("out"), failed = lit(false)),
      probeSink,
      checkpointDir = Some(Files.createTempDirectory("a17ck").toString))
    bus.start()
    src.put(Msg.utf8("1", "alpha"), Msg.utf8("2", "beta"))
    bus.awaitIdle()
    @volatile var deliveredAtCallback = -1
    bus.shutdownSequence(10000, () => {
      order.add("app")
      deliveredAtCallback = inner.sent("out").size
    })
    assert(order.asScala.toSeq == Seq("sink_closed", "app"),
      s"flush (incl. sink close) must complete before the app callback: $order")
    assert(deliveredAtCallback == 2,
      "the callback must observe a fully-drained sink")
  }

  test("start() refuses a second start on the same bus") {
    val (src, _, _, bus) = newBus()
    bus.start()
    val err = intercept[IllegalArgumentException](bus.start())
    assert(err.getMessage.contains("already started"), err.getMessage)
    bus.flushAndClose(10000)
  }

  test("Kinesis binding pins the kinesis-sql connector option contract") {
    // the contract is DATA, asserted offline: option keys/values exactly as
    // the pinned qubole/kinesis-sql lineage defines them — a silent key
    // mismatch would otherwise surface only in production
    // keys per the qubole/kinesis-sql lineage: endpointUrl (required;
    // region derives from it — the lineage has NO `region` key),
    // startingposition, and the `kinesis.executor.` prefix on the fetch
    // cap. Spark silently ignores unknown options, so asserting the
    // lineage's REAL keys here is the only offline defense against a
    // silent contract mismatch.
    val cfg = BusConfig.fromEnv(Map("BUFFER_SIZE" -> "123"))
    val srcK = KinesisAdapters.source("events", "us-east-1", cfg)
    assert(KinesisAdapters.connectorFormat == "kinesis")
    assert(srcK.connectorOptions == Map(
      "streamName" -> "events",
      "endpointUrl" -> "https://kinesis.us-east-1.amazonaws.com",
      "startingposition" -> "latest",
      "kinesis.executor.maxFetchRecordsPerShard" -> "123"))
    val withEp = new KinesisAdapters.KinesisSource("s", "eu-west-1",
      maxFetchRecordsPerShard = 77L, startingPosition = "trim_horizon",
      endpointUrl = Some("https://kinesis.local:4566"))
    assert(withEp.connectorOptions == Map(
      "streamName" -> "s",
      "endpointUrl" -> "https://kinesis.local:4566",
      "startingposition" -> "trim_horizon",
      "kinesis.executor.maxFetchRecordsPerShard" -> "77"))
    // China-partition regions use the .amazonaws.com.cn endpoint suffix —
    // the standard-suffix derivation would point at a nonexistent host
    val cn = KinesisAdapters.source("events", "cn-north-1", cfg)
    assert(cn.connectorOptions("endpointUrl") ==
      "https://kinesis.cn-north-1.amazonaws.com.cn")
  }

  test("Kinesis binding wires config up to the connector boundary") {
    // no Kinesis endpoint or connector jar offline: the binding must
    // construct, apply its options, and fail exactly at connector lookup
    val cfg = BusConfig.fromEnv(Map("BUFFER_SIZE" -> "123"))
    val srcK = KinesisAdapters.source("events", "us-east-1", cfg)
    val err = intercept[Exception](srcK.stream(spark))
    assert(err.getMessage.toLowerCase.contains("kinesis"),
      s"must fail at connector lookup, not before: ${err.getMessage}")
  }

  test("BusConfig wires mock mode, fail dest and flush timeout (A19)") {
    val src = new MemorySource(spark)
    val sink = new MemorySink
    val dlq = new MemorySink
    val cfg = BusConfig.fromEnv(Map("MOCK" -> "true", "FAIL_DEST" -> "dead",
      "FLUSH_TIMEOUT_MS" -> "12000", "BUFFER_SIZE" -> "7"))
    assert(cfg == BusConfig(bufferSize = 7, failDest = "dead",
      flushTimeoutMs = 12000L, mock = true, checkpointDir = None))
    val bus = FrizzleStream.fromConfig(spark, src,
      FrizzleStream.exprProcessor(dest = lit("out"), failed = lit(false)),
      sink, cfg, failSink = Some(dlq))
    bus.start()
    src.put(Msg.utf8("1", "abc"))
    bus.awaitIdle()
    // mock swaps both sinks for no-ops: counters tick, nothing lands
    assert(bus.stats.send.get == 1 && bus.stats.rcv.get == 1)
    assert(sink.dests.isEmpty && dlq.dests.isEmpty)
    bus.flushAndClose()
  }

  test("tiered compaction: O(log) dirs, sub-quadratic rewrite bytes, exact parity, torn-compaction safe") {
    // a single-level compaction rewrites the WHOLE index every
    // compactEvery epochs — O(N²/k) cumulative bytes. The tiered scheme
    // must, over a 24-epoch run: (a) keep the directory count O(log
    // epochs), (b) keep TOTAL bytes written by compaction a small multiple
    // of the index size (measured, not argued — single-level would be
    // ~8-11× here), (c) preserve exact survivor parity with a driver-side
    // set simulation, (d) stay replay-idempotent, and (e) survive a torn
    // compaction (crash after the merged run is staged, before inputs are
    // deleted) with the index still answering exactly — the staged-write
    // commit protocol's point.
    import spark.implicits._
    val idxDir = Files.createTempDirectory("seenidx_tiered").toString
    val idx = new SeenHashIndex(spark, idxDir, compactEvery = 3)
    val nEpochs = 24
    val seen = scala.collection.mutable.Set[String]()
    var dirPeak = 0
    var lastSurvivors: Set[String] = Set()
    var lastDf: org.apache.spark.sql.DataFrame = null
    for (e <- 0 until nEpochs) {
      // 1000 fresh payloads + 250 repeats of the previous epoch's head —
      // every epoch has both first-copies and already-seen rows
      val fresh = (0 until 1000).map(i => s"payload-$e-$i")
      val repeats =
        if (e == 0) Seq() else (0 until 250).map(i => s"payload-${e - 1}-$i")
      val payloads = fresh ++ repeats
      val df = payloads.zipWithIndex
        .map { case (p, i) => (f"$e%03d-$i%05d", p) }.toDF("id", "data")
      val out = idx.dedupEpoch(df, e).select("data").as[String].collect().toSet
      val expect = payloads.filterNot(seen).toSet
      assert(out == expect,
        s"epoch $e survivors: missing=${(expect -- out).take(3)} extra=${(out -- expect).take(3)}")
      seen ++= payloads
      dirPeak = math.max(dirPeak, idx.epochs().size)
      lastSurvivors = out
      lastDf = df
    }
    // (a) fanout=3 over 24 epochs: ≤ fanout·⌈log_3 24⌉ = 9 runs, never 24
    assert(idx.epochs().size <= 9,
      s"directory count must stay O(log epochs): ${idx.epochs().sorted}")
    assert(dirPeak <= 12, s"peak directory count $dirPeak")
    // (b) measured write amplification: every hash is rewritten at most
    // ⌈log_3 24⌉ = 3 times, so cumulative compaction bytes must stay
    // within ~4× the final index's on-disk size (parquet per-file overhead
    // gives the headroom). A single-level scheme measures ~8-11× here and
    // grows linearly with epoch count; this bound does not.
    val totalIndexBytes = bytesUnder(java.nio.file.Paths.get(idxDir))
    assert(totalIndexBytes > 0, "index must be materialized on disk")
    assert(idx.compactBytesWritten <= 4L * totalIndexBytes,
      s"compaction wrote ${idx.compactBytesWritten} bytes vs index $totalIndexBytes — write amplification is super-logarithmic")
    // (c) the index holds exactly the distinct payload hashes
    assert(idx.seenBefore(nEpochs).distinct().count() == seen.size.toLong,
      "index distinct hash count must equal the driver-side seen set")
    // (d) replay the final epoch against the compacted index: same
    // survivors, same index state (overwrite converges)
    val before = idx.seenBefore(nEpochs).distinct().count()
    val replay = idx.dedupEpoch(lastDf, nEpochs - 1)
      .select("data").as[String].collect().toSet
    assert(replay == lastSurvivors, "replay must keep the same survivor set")
    assert(idx.seenBefore(nEpochs).distinct().count() == before,
      "replay must converge, not grow the index")
    // (e) torn compaction: force a crash AFTER the merged run is staged,
    // BEFORE the inputs are deleted
    tornCompaction(spark, identity)
  }

  /** A crash after a merged run is staged and before its inputs are
    * deleted, on `session` with the index at `at(local dir)`. History must
    * never be lost — the index still answers exactly (duplicate hashes
    * across runs are harmless to the anti-join), and the next compaction
    * self-heals.
    */
  private def tornCompaction(session: org.apache.spark.sql.SparkSession,
      at: String => String): Unit = {
    import spark.implicits._
    val tornDir = Files.createTempDirectory("seenidx_torn").toString
    val idx2 = new SeenHashIndex(session, at(tornDir), compactEvery = 3)
    val all = scala.collection.mutable.Set[String]()
    for (e <- 0 until 3) {
      val ps = (0 until 100).map(i => s"torn-$e-$i")
      idx2.dedupEpoch(ps.zipWithIndex
        .map { case (p, i) => (f"$e%03d-$i%05d", p) }.toDF("id", "data"), e)
      all ++= ps
    }
    idx2.onBeforeDelete =
      () => throw new RuntimeException("injected crash mid-compaction")
    val crash = intercept[RuntimeException](idx2.compact(3))
    assert(crash.getMessage.contains("injected"), crash.getMessage)
    idx2.onBeforeDelete = () => ()
    // the crash hit the driver merge path: one staged unbucketed run (its
    // weight written, no bloom) beside its three intact inputs
    val staged = idx2.epochs().filter(_ < 0)
    assert(staged.size == 1 && idx2.epochs().count(_ >= 0) == 3 &&
      runFiles(tornDir, staged.head).filterNot(_.endsWith(".parquet")) ==
        Seq("_run_weight"),
      s"staged run: ${staged.map(runFiles(tornDir, _))}")
    // staged run + intact inputs coexist: the DISTINCT answer is unchanged
    assert(idx2.seenBefore(3).distinct().count() == all.size.toLong,
      "torn compaction must not lose or duplicate logical history")
    // an epoch arriving right now still dedups exactly
    val mixed = ((0 until 50).map(i => s"torn-1-$i") ++
      (0 until 50).map(i => s"torn-new-$i"))
    val survivors = idx2.dedupEpoch(mixed.zipWithIndex
      .map { case (p, i) => (f"003-$i%05d", p) }.toDF("id", "data"), 3)
      .select("data").as[String].collect().toSet
    assert(survivors == (0 until 50).map(i => s"torn-new-$i").toSet,
      "post-crash dedup must drop every already-seen payload")
    // self-heal: the next compaction folds the leftover runs back in
    idx2.compact(4)
    assert(idx2.seenBefore(5).distinct().count() == all.size.toLong + 50,
      "post-heal index must hold exactly the distinct history")
    assert(idx2.epochs().size <= 4,
      s"leftover torn runs must be folded back in: ${idx2.epochs().sorted}")
  }

  test("bucketed index: merged-run layout, exact dedup through buckets, bloom self-heal") {
    // the batch-proportional lookup: merged runs above ~2·bucketRows lay
    // out as b=pmod(h,N) partitions with _nbuckets and _bloom sidecars;
    // dedupEpoch must answer EXACTLY through the bucketed+bloomed path,
    // and a deleted _bloom must degrade safely (full candidacy) and
    // self-heal (sidecar rebuilt from the run's parquet on first touch).
    import spark.implicits._
    val idxDir = Files.createTempDirectory("seenidx_bucketed").toString
    // bucketRows=64 forces bucketing at test scale
    val idx = new SeenHashIndex(spark, idxDir, compactEvery = 2,
      bucketRows = 64L)
    val seen = scala.collection.mutable.Set[String]()
    for (e <- 0 until 4) {
      val ps = (0 until 300).map(i => s"bkt-$e-$i")
      idx.dedupEpoch(ps.zipWithIndex
        .map { case (p, i) => (f"$e%03d-$i%05d", p) }.toDF("id", "data"), e)
      seen ++= ps
    }
    idx.compact(4)
    // layout: at least one merged (negative-label) run is bucketed
    val mergedDirs = idx.epochs().filter(_ < 0)
    assert(mergedDirs.nonEmpty, s"expected a merged run: ${idx.epochs()}")
    val bucketed = mergedDirs.filter { l =>
      Files.exists(java.nio.file.Paths.get(s"$idxDir/epoch=$l", "_nbuckets"))
    }
    assert(bucketed.nonEmpty,
      s"a 1200-hash merge at bucketRows=64 must bucket: ${idx.epochs()}")
    for (l <- bucketed) {
      val p = java.nio.file.Paths.get(s"$idxDir/epoch=$l")
      val bs = Files.list(p)
      val bDirs = try bs.iterator().asScala
        .count(_.getFileName.toString.startsWith("b=")) finally bs.close()
      val nb = Files.readString(p.resolve("_nbuckets")).trim.toInt
      assert(nb > 1 && bDirs > 1 && bDirs <= nb,
        s"run $l: _nbuckets=$nb but $bDirs b= partitions")
      assert(Files.exists(p.resolve("_bloom")), s"run $l missing _bloom")
    }
    // exactness through the bucketed path: half repeats, half fresh
    val mixed = (0 until 150).map(i => s"bkt-1-$i") ++
      (0 until 150).map(i => s"bkt-new-$i")
    val out = idx.dedupEpoch(mixed.zipWithIndex
      .map { case (p, i) => (f"004-$i%05d", p) }.toDF("id", "data"), 4)
      .select("data").as[String].collect().toSet
    assert(out == (0 until 150).map(i => s"bkt-new-$i").toSet,
      s"bucketed lookup must drop exactly the seen half: ${out.take(5)}")
    // bloom self-heal: delete a merged run's sidecar, reopen the index
    // (fresh caches), dedup again — still exact, sidecar rebuilt
    val healTarget = java.nio.file.Paths
      .get(s"$idxDir/epoch=${bucketed.head}", "_bloom")
    Files.delete(healTarget)
    val idx2 = new SeenHashIndex(spark, idxDir, compactEvery = 2,
      bucketRows = 64L)
    val mixed2 = (0 until 100).map(i => s"bkt-2-$i") ++
      (0 until 100).map(i => s"bkt-new2-$i")
    val out2 = idx2.dedupEpoch(mixed2.zipWithIndex
      .map { case (p, i) => (f"005-$i%05d", p) }.toDF("id", "data"), 5)
      .select("data").as[String].collect().toSet
    assert(out2 == (0 until 100).map(i => s"bkt-new2-$i").toSet,
      "missing bloom must degrade to full candidacy, not wrong answers")
    assert(Files.exists(healTarget), "bloom sidecar must self-heal")
    // replay idempotence THROUGH the bucketed+bloomed path (the other
    // replay tests run before any run is bucketed): re-running epoch 5
    // must reproduce the same survivors and converge the index state —
    // the overwritten run's stale bloom/frame caches must be evicted,
    // and the lookup must still exclude epoch 5's own previous attempt
    val before = idx2.seenBefore(6L).distinct().count()
    val replay = idx2.dedupEpoch(mixed2.zipWithIndex
      .map { case (p, i) => (f"005-$i%05d", p) }.toDF("id", "data"), 5)
      .select("data").as[String].collect().toSet
    assert(replay == out2, "bucketed-path replay must keep the survivor set")
    assert(idx2.seenBefore(6L).distinct().count() == before,
      "bucketed-path replay must converge, not grow the index")
  }

  test("bucketed index: per-epoch index reads are batch-proportional, not index-proportional") {
    // the batch-proportional lookup, asserted as a number: dedup a small
    // all-fresh epoch against a large bucketed index and bound the
    // parquet records actually read. Bloom pruning keeps true-negative
    // hashes away from the index entirely (fpp=1e-4 ⇒ ~0 expected false
    // positives at this batch size), so the lookup should read ~no index
    // rows; the only parquet reads are append-side bookkeeping (the new
    // run's bloom build). An anti-join against the whole index reads ALL
    // index rows every epoch — this assertion fails it by >10×.
    import spark.implicits._
    val idxDir = Files.createTempDirectory("seenidx_prop").toString
    val idx = new SeenHashIndex(spark, idxDir, compactEvery = 2,
      bucketRows = 1000L)
    // 60k-hash index via direct appends + compaction into a bucketed run
    for (e <- 0 until 4)
      idx.append(spark.range(e * 15000L, (e + 1) * 15000L)
        .select(col("id").as("h")), e)
    idx.compact(4)
    assert(idx.epochs().exists(l => Files.exists(
      java.nio.file.Paths.get(s"$idxDir/epoch=$l", "_nbuckets"))),
      "precondition: the merged run must be bucketed")
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recordsRead.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val batch = (0 until 1000)
        .map(i => (f"010-$i%05d", s"fresh-$i")).toDF("id", "data")
      val out = idx.dedupEpoch(batch, 10)
      assert(out.count() == 1000L, "all-fresh epoch must fully survive")
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val read = recordsRead.get()
      assert(read < 6000L,
        s"per-epoch parquet reads must be batch-bounded: read $read " +
          "records against a 60k-hash index (the pre-bucketed shape reads 60k+)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body`'s result and the Spark jobs it started, counted in its own
    * job group.
    */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "job count")
    val out = try body
    finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    (out, jobs.get)
  }

  private def dedupFrame(e: Int, ps: Seq[String]) = {
    import spark.implicits._
    ps.zipWithIndex.map { case (p, i) => (f"$e%03d-$i%05d", p) }
      .toDF("id", "data")
  }

  /** Whether `f` is a Hadoop checksum sidecar (`.<name>.crc`), the files
    * a checksummed filesystem writes beside each file and hides from its
    * listings.
    */
  private def isCrc(f: java.nio.file.Path): Boolean = {
    val name = f.getFileName.toString
    name.startsWith(".") && name.endsWith(".crc")
  }

  /** The files below `p`, `.crc` sidecars skipped. */
  private def filesUnder(p: java.nio.file.Path): List[java.nio.file.Path] = {
    if (!Files.exists(p)) return Nil
    val st = Files.walk(p)
    try st.iterator().asScala.filter(f => Files.isRegularFile(f) && !isCrc(f)).toList
    finally st.close()
  }

  /** Bytes of the files below `p` as `SeenHashIndex.compactBytesWritten`
    * counts them: every file the filesystem lists, `.crc` sidecars not.
    */
  private def bytesUnder(p: java.nio.file.Path): Long = filesUnder(p).map(Files.size).sum

  /** A run directory's files, `.crc` sidecars skipped, as names relative to it. */
  private def runFiles(idxDir: String, label: Long): Seq[String] = {
    val run = java.nio.file.Paths.get(s"$idxDir/epoch=$label")
    filesUnder(run).map(run.relativize(_).toString).sorted
  }

  private def visibleParquet(idxDir: String, label: Long): Seq[String] =
    runFiles(idxDir, label).filter(f =>
      f.endsWith(".parquet") && !f.split('/').exists(n =>
        n.startsWith(".") || n.startsWith("_")))

  test("dedup epoch job count: one materialization, driver-side first copies and probes") {
    // the per-epoch fixed cost as a contention-immune number: Spark jobs
    // started by one non-compacting dedupEpoch call plus one collect of its
    // output (the bus consumes the frame it returns), against a warm
    // 3-run index with true duplicates of two runs and in-epoch copies.
    import spark.implicits._
    val idx = new SeenHashIndex(spark,
      Files.createTempDirectory("seenidx_jobs").toString)
    for (e <- 0 until 3)
      idx.dedupEpoch(dedupFrame(e, (0 until 200).map(i => s"jobs-$e-$i")), e).collect()
    val fresh = (0 until 100).map(i => s"jobs-new-$i")
    val batch = dedupFrame(3, (0 until 50).map(i => s"jobs-0-$i") ++
      (0 until 50).map(i => s"jobs-1-$i") ++ fresh ++ fresh.take(20))
    val (out, jobs) = jobsStartedBy(
      idx.dedupEpoch(batch, 3).select("data").as[String].collect())
    assert(out.sorted.toSeq == fresh.sorted,
      "exactly one copy of each fresh payload must survive")
    assert(idx.epochs().sorted == Seq(0L, 1L, 2L, 3L), "no compaction ran")
    // 2 = the collect that reads the source and fills the checkpoint, and
    // the output collect: the first copies are picked, every (unbucketed)
    // run is probed and the survivors' run is written on the driver
    assert(jobs <= 2, s"one dedup epoch started $jobs Spark jobs, bound 2")
  }

  test("dedup epoch keeps the first copies the row_number window keeps") {
    import spark.implicits._
    // the pre-driver-pick oracle: row_number over the payload hash, ids
    // ascending with nulls first
    def windowFirsts(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(xxhash64(col("data"))).orderBy(asc_nulls_first("id"))))
        .filter(col("rn") === 1).select("id", "data")
    val rows = Seq[(String, String)](
      ("b", "null-id"), (null, "null-id"), ("a", "null-id"),
      ("same", "equal-ids"), ("same", "equal-ids"), ("same", "equal-ids"),
      // UTF-16 order puts the surrogate pair of "😀" before "｡"; UTF-8
      // order, Spark's, puts "｡" (EF BD A1) before "😀" (F0 9F 98 80)
      ("😀", "utf8-order"), ("｡", "utf8-order")) ++
      // copies in every slice, with smaller ids in later slices
      (0 until 40).map(i => (f"s${39 - i}%02d", s"spread-${i % 5}"))
    val df = spark.sparkContext.parallelize(rows, 4).toDF("id", "data")
    assert(df.rdd.glom().collect().count(_.exists(_.getString(1).startsWith("spread"))) == 4,
      "precondition: the copies span every source partition")
    val idx = new SeenHashIndex(spark,
      Files.createTempDirectory("seenidx_firsts").toString)
    val got = idx.dedupEpoch(df, 0).select("id", "data").as[(String, String)]
      .collect().toSeq
    val want = windowFirsts(df).as[(String, String)].collect().toSeq
    def sorted(xs: Seq[(String, String)]) = xs.sortBy { case (i, d) => (d, String.valueOf(i)) }
    assert(sorted(got) == sorted(want), s"driver pick vs window: $got vs $want")
    assert(got.count(_._2 == "equal-ids") == 1 && got.contains((null, "null-id")) &&
      got.contains(("｡", "utf8-order")) &&
      (0 until 5).forall(k => got.contains((f"s${4 - k}%02d", s"spread-$k"))),
      s"first copies: $got")
  }

  test("a dedup epoch against a bucketed run answers exactly through one verification job") {
    import spark.implicits._
    val idxDir = Files.createTempDirectory("seenidx_bucket_jobs").toString
    // bucketRows=64: the 4-run merge of 1200 hashes is bucketed
    val idx = new SeenHashIndex(spark, idxDir, bucketRows = 64L)
    for (e <- 0 until 4)
      idx.dedupEpoch(dedupFrame(e, (0 until 300).map(i => s"bj-$e-$i")), e).collect()
    idx.compact(4)
    val Seq(merged) = idx.epochs()
    assert(runFiles(idxDir, merged).contains("_nbuckets"), "precondition: bucketed")
    val fresh = (0 until 100).map(i => s"bj-new-$i")
    val batch = dedupFrame(4, (0 until 50).map(i => s"bj-1-$i") ++ fresh ++ fresh.take(10))
    val (out, jobs) = jobsStartedBy(
      idx.dedupEpoch(batch, 4).select("data").as[String].collect())
    assert(out.sorted.toSeq == fresh.sorted, "exactly the fresh payloads survive")
    // the materializing collect, the verification job, the output collect
    assert(jobs == 3, s"a dedup epoch against a bucketed run started $jobs Spark jobs")
  }

  test("a reopened index rebuilds its unbucketed runs from disk and answers exactly") {
    reopenAnswersExactly(spark, identity)
  }

  /** The reopen test on `session` with the index at `at(local dir)`. */
  private def reopenAnswersExactly(session: org.apache.spark.sql.SparkSession,
      at: String => String): Unit = {
    import spark.implicits._
    val idxDir = Files.createTempDirectory("seenidx_reopen").toString
    val first = new SeenHashIndex(session, at(idxDir), compactEvery = 3)
    for (e <- 0 until 4)
      first.dedupEpoch(dedupFrame(e, (0 until 200).map(i => s"ro-$e-$i")), e).collect()
    // epochs 0-2 merged on the driver at epoch 3, beside epoch 3's raw run
    val runs = first.epochs().sorted
    assert(runs.size == 2 && runs.head < 0 && runs(1) == 3L &&
      runs.forall(l => !runFiles(idxDir, l).contains("_nbuckets")),
      s"precondition: a driver-merged run and a raw run: $runs")
    val reopened = new SeenHashIndex(session, at(idxDir), compactEvery = 3)
    val fresh = (0 until 100).map(i => s"ro-new-$i")
    val batch = dedupFrame(4, (0 until 50).map(i => s"ro-0-$i") ++
      (0 until 50).map(i => s"ro-3-$i") ++ fresh ++ fresh.take(10))
    val (out, jobs) = jobsStartedBy(
      reopened.dedupEpoch(batch, 4).select("data").as[String].collect())
    assert(out.sorted.toSeq == fresh.sorted,
      "seen payloads of the merged and the raw run must be dropped, fresh ones kept once")
    assert(jobs <= 2, s"reading the runs back is driver work, yet $jobs Spark jobs ran")
  }

  /** Counts each bus epoch's Spark jobs: [[tag]], called in the epoch
    * stage, records the epoch's (job group, batch id) from its micro-batch
    * thread, and [[perEpoch]] counts the jobs started under each recorded
    * key while [[during]] ran, so jobs of any other query do not count.
    */
  private final class EpochJobs {
    private val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    private val epochs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    private val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null)
          started.add((j.properties.getProperty("spark.jobGroup.id"),
            j.properties.getProperty("streaming.sql.batchId")))
    }
    def tag(e: Long): Unit =
      epochs.add((spark.sparkContext.getLocalProperty("spark.jobGroup.id"), e.toString))
    def during[T](body: => T): T = {
      spark.sparkContext.addSparkListener(listener)
      try body
      finally {
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    def perEpoch: Seq[Int] = epochs.asScala.toSeq.map(k => started.asScala.count(_ == k))
  }

  /** The test session with the bus's driver bound (the advisory partition
    * size) at 1 byte: every epoch takes the Spark write path.
    */
  private lazy val aboveBound = org.apache.spark.sql.GraftBridge.sessionWithConf(
    spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")

  /** Jobs per epoch and sent rows of a 2-epoch bus on `session` routing 30
    * messages an epoch to 3 destinations of one [[NoopSink]].
    */
  private def noopBusJobs(session: org.apache.spark.sql.SparkSession): (Seq[Int], Long) = {
    val jobs = new EpochJobs
    val route = FrizzleStream.exprProcessor(dest = col("data").cast("string"),
      failed = lit(false))
    val src = new MemorySource(session)
    val bus = new FrizzleStream(session, src, route, new NoopSink,
      checkpointDir = Some(Files.createTempDirectory("busjobs").toString),
      epochProcess = Some((df, e) => { jobs.tag(e); route(df) }))
    jobs.during {
      bus.start()
      for (round <- 0 until 2) {
        src.put((0 until 30).map(i => Msg.utf8(s"$round-$i", Seq("x", "y", "z")(i % 3))): _*)
        bus.awaitIdle()
      }
      assert(bus.flushAndClose(10000))
    }
    (jobs.perEpoch, bus.stats.snapshot("send"))
  }

  test("a driver-held bus epoch on 3 NoopSink destinations starts one job") {
    val (perEpoch, sent) = noopBusJobs(spark)
    assert(perEpoch == Seq(1, 1), s"jobs per epoch (1 census-and-collect job each): $perEpoch")
    assert(sent == 60)
  }

  test("above the driver bound, a bus epoch on 3 destinations starts one census job and one job per write") {
    val (perEpoch, sent) = noopBusJobs(aboveBound)
    assert(perEpoch == Seq(4, 4), s"jobs per epoch (1 census + 3 writes each): $perEpoch")
    assert(sent == 60)
  }

  /** Messages of spool file `f`: every destination, a dead letter, a null
    * id, an empty payload and one payload that every file repeats.
    */
  private def dedupShapedFile(f: Int): Seq[(String, String)] =
    (0 until 9).map(i => (s"$f-$i", s"${Seq("x", "y", "z", "FAIL")(i % 4)};f$f-$i")) ++
      Seq((null, s"y;null-id-$f"), (s"$f-empty", ""), (s"$f-dup", "x;shared"))

  private def writeJsonLines(dir: java.nio.file.Path, name: String,
      msgs: Seq[(String, String)]): Unit = {
    val b64 = java.util.Base64.getEncoder
    val lines = msgs.map { case (id, p) =>
      val idJson = if (id == null) "null" else s""""$id""""
      s"""{"id":$idJson,"data_b64":"${b64.encodeToString(p.getBytes("UTF-8"))}"}"""
    }
    val tmp = Files.write(dir.resolveSibling(s".$name"), lines.asJava)
    Files.move(tmp, dir.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run 2 epochs of the bus_dedup shape on `session`: a JSON spool, a
    * [[SeenHashIndex.dedupEpoch]] stage, 3 routes on one
    * [[FileAdapters.ParquetDirSink]] and dead letters on another. Returns
    * the jobs per epoch and every delivered (id, payload, dest, batch id).
    */
  private def dedupShapedRun(session: org.apache.spark.sql.SparkSession)
      : (Seq[Int], Seq[(String, String, String, Long)]) = {
    import spark.implicits._
    val root = Files.createTempDirectory("busdedupshape")
    val spool = Files.createDirectories(root.resolve("spool"))
    val idx = new SeenHashIndex(session, root.resolve("index").toString)
    val route = FrizzleStream.exprProcessor(
      dest = substring_index(decode(col("data"), "UTF-8"), ";", 1),
      failed = col("dest") === "FAIL")
    val jobs = new EpochJobs
    val bus = new FrizzleStream(session, new JsonDirSource(spool.toString, 1), route,
      new FileAdapters.ParquetDirSink(root.resolve("out").toString),
      Some(new FileAdapters.ParquetDirSink(root.resolve("dead").toString)),
      failDest = "dead",
      checkpointDir = Some(root.resolve("ckpt").toString),
      epochProcess = Some((df, e) => { jobs.tag(e); route(idx.dedupEpoch(df, e)) }))
    jobs.during {
      bus.start()
      for (f <- 0 until 2) { writeJsonLines(spool, s"part-$f.json", dedupShapedFile(f)); bus.awaitIdle() }
      assert(bus.flushAndClose(10000))
    }
    val rows = Seq("out", "dead").flatMap { d =>
      spark.read.parquet(root.resolve(d).toString)
        .select(col("id"), decode(col("data"), "UTF-8"), col("dest").cast("string"),
          col("batch_id").cast("long"))
        .as[(String, String, String, Long)].collect().toSeq
    }
    (jobs.perEpoch, rows.sortBy(r => (r._4, r._3, r._2)))
  }

  test("a bus_dedup-shaped epoch starts 2 jobs within the driver bound and 6 above it, delivering the same rows") {
    val (heldJobs, heldRows) = dedupShapedRun(spark)
    val (sparkJobs, sparkRows) = dedupShapedRun(aboveBound)
    // the dedup collect and the census-and-collect job; above the bound
    // also one write job per destination and one for the dead letters
    assert(heldJobs == Seq(2, 2), s"jobs per driver-held epoch: $heldJobs")
    assert(sparkJobs == Seq(6, 6), s"jobs per epoch above the bound: $sparkJobs")
    assert(heldRows == sparkRows, s"driver writes $heldRows vs Spark writes $sparkRows")
    // epoch 0: 12 messages; epoch 1: 10, its copies of the shared and the
    // empty payload dropped. The empty payload routes to the unaddressable
    // dest "", so it is dead-lettered beside the 4 FAIL rows.
    assert(heldRows.size == 22 && heldRows.count(_._3 == "dead") == 5 &&
      heldRows.count(_._2 == "x;shared") == 1 && heldRows.exists(_._1 == null) &&
      heldRows.exists(_._2.isEmpty), s"delivered: $heldRows")
  }

  test("a driver-held frame writes parquet that reads back as the Spark write of it does") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456")
    val msgs = Seq(Msg.utf8("a", "plain", ts), Msg.utf8(null, "null id", ts),
      Msg.utf8("b", "null ts", null), Msg("c", Array.emptyByteArray, ts),
      Msg.utf8("ünï-😀", "é", ts))
    val held = msgs.toDS()
    assert(org.apache.spark.sql.GraftBridge.driverRows(held).isDefined &&
      org.apache.spark.sql.GraftBridge.driverRows(held.repartition(1)).isEmpty,
      "precondition: one frame driver-held, its repartition not")
    val root = Files.createTempDirectory("busparity")
    val sink = new FileAdapters.ParquetDirSink(root.toString)
    val (_, driverJobs) = jobsStartedBy(sink.write(held, "driver", 0L))
    sink.write(held.repartition(1), "spark", 0L)
    assert(driverJobs == 0, s"the driver write started $driverJobs Spark jobs")
    def read(d: String) = spark.read.parquet(root.resolve(s"dest=$d/batch_id=0").toString)
    assert(read("driver").schema == read("spark").schema)
    assert(read("driver").exceptAll(read("spark")).isEmpty &&
      read("spark").exceptAll(read("driver")).isEmpty)
    assert(read("driver").as[Msg].collect().map(m => (m.id, m.dataUtf8, m.ts)).toSet ==
      msgs.map(m => (m.id, m.dataUtf8, m.ts)).toSet)
    def footer(d: String) = {
      val dir = root.resolve(s"dest=$d/batch_id=0")
      val st = Files.list(dir)
      val Seq(f) = try st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toList
      finally st.close()
      assert(f.startsWith("part-00000-") && f.endsWith(".snappy.parquet"), f)
      assert(Files.exists(dir.resolve("_SUCCESS")), s"$d: no _SUCCESS marker")
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dir.resolve(f).toUri),
          spark.sparkContext.hadoopConfiguration))
      try {
        val meta = r.getFooter.getFileMetaData
        val codecs = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
        (meta.getSchema, meta.getKeyValueMetaData.asScala.toMap, codecs)
      } finally r.close()
    }
    val (dSchema, dMeta, dCodecs) = footer("driver")
    val (sSchema, sMeta, sCodecs) = footer("spark")
    assert(dSchema == sSchema, s"file schema: $dSchema vs $sSchema")
    assert(dMeta.contains("org.apache.spark.sql.parquet.row.metadata") && dMeta == sMeta,
      s"footer metadata: $dMeta vs $sMeta")
    assert(dCodecs == sCodecs, s"codecs: $dCodecs vs $sCodecs")
  }

  test("a crash-left hidden file in a batch_id dir is invisible to readers and a replay overwrites it") {
    import spark.implicits._
    val root = Files.createTempDirectory("buscrash")
    val spool = root.resolve("spool")
    val sink = new FileAdapters.ParquetDirSink(spool.toString)
    sink.write(Seq(Msg.utf8("1", "abc")).toDS(), "mid", 0L)
    // epoch 1 crashed between its driver write and the rename: its
    // batch_id dir holds only the hidden file, with a row no epoch delivered
    new FileAdapters.ParquetDirSink(root.resolve("donor").toString)
      .write(Seq(Msg.utf8("9", "ghost")).toDS(), "mid", 1L)
    val donorDir = root.resolve("donor/dest=mid/batch_id=1")
    val st = Files.list(donorDir)
    val donor = try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).next()
    finally st.close()
    val crashed = Files.createDirectories(spool.resolve("dest=mid/batch_id=1"))
    Files.copy(donor, crashed.resolve(s".${donor.getFileName}"))
    def payloads = spark.read.parquet(spool.toString).select(col("data").cast("string"))
      .as[String].collect().sorted.toSeq
    assert(payloads == Seq("abc"), "Spark's reader must skip the hidden file")
    val end = new MemorySink
    val downstream = new FrizzleStream(spark, FileAdapters.chainSource(spool.toString, "mid"),
      FrizzleStream.exprProcessor(dest = lit("out"), failed = lit(false)), end,
      checkpointDir = Some(root.resolve("ckpt").toString))
    downstream.start()
    try {
      downstream.awaitIdle()
      assert(end.sent("out").map(_.dataUtf8) == Seq("abc"),
        "a chained bus must not stream the hidden file")
      // the replay of epoch 1 replaces the crashed dir
      sink.write(Seq(Msg.utf8("2", "def")).toDS(), "mid", 1L)
      val left = Files.list(crashed)
      val names = try left.iterator().asScala.map(_.getFileName.toString).toList finally left.close()
      assert(!names.exists(n => n.startsWith(".part") && !n.endsWith(".crc")) &&
        names.count(_.endsWith(".parquet")) == 1, s"replayed dir: $names")
      assert(payloads == Seq("abc", "def"))
      downstream.awaitIdle()
      assert(end.sent("out").map(_.dataUtf8).sorted == Seq("abc", "def"))
    } finally assert(downstream.flushAndClose(10000))
  }

  test("a SeenHashIndex given a file: URI keeps its runs in that directory") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("seenidx_uri")
    val idx = new SeenHashIndex(spark, s"file:$tmp")
    for (e <- 0 until 2)
      idx.append(spark.range(e * 100L, e * 100L + 100).select(col("id").as("h")), e)
    assert(Files.isDirectory(tmp.resolve("epoch=0")) && Files.isDirectory(tmp.resolve("epoch=1")),
      s"runs must land in $tmp")
    assert(!Files.exists(java.nio.file.Paths.get(s"file:$tmp")),
      "no run may land under the working directory's file: subtree")
    assert(idx.epochs().sorted == Seq(0L, 1L))
    assert(idx.seenBefore(2).as[Long].collect().sorted.toSeq == (0L until 200L))
    // the bare path and the file:/// form open the same index
    for (same <- Seq(tmp.toString, tmp.toUri.toString))
      assert(new SeenHashIndex(spark, same).seenBefore(2).count() == 200L, same)
  }

  /** The test session with [[CopyRenameFs]]'s `cprn:` scheme bound: a
    * store whose rename is copy-then-delete, as on an object store.
    */
  private lazy val copyRename = CopyRenameFs.session(spark)

  test("on a copy-then-delete rename store, a replayed dedup epoch converges, a crash mid-rename included") {
    replayConverges(copyRename, CopyRenameFs.uri, crashFirstAttempt = true)
  }

  test("on a copy-then-delete rename store, a torn compaction keeps the index exact and self-heals") {
    tornCompaction(copyRename, CopyRenameFs.uri)
    // a crash inside the merged run's rename: its data file is copied into
    // place, its _run_weight not yet written, so it is a weight-1
    // duplicate of its inputs
    import spark.implicits._
    val dir = Files.createTempDirectory("seenidx_torn_rename").toString
    val idx = new SeenHashIndex(copyRename, CopyRenameFs.uri(dir), compactEvery = 3)
    for (e <- 0 until 3)
      idx.dedupEpoch(dedupFrame(e, (0 until 100).map(i => s"tr-$e-$i")), e).collect()
    intercept[java.io.IOException](
      CopyRenameFs.crashingRenames(dir, _.endsWith(".parquet"))(idx.compact(3)))
    val Seq(half) = idx.epochs().filter(_ < 0)
    assert(visibleParquet(dir, half).size == 1 && !runFiles(dir, half).contains("_run_weight") &&
      idx.epochs().count(_ >= 0) == 3, s"half-renamed run: ${runFiles(dir, half)}")
    assert(idx.seenBefore(3).distinct().count() == 300L,
      "a half-renamed merge must not lose or duplicate logical history")
    // epoch 3 self-compacts first: the four weight-1 runs merge into one
    val mixed = (0 until 50).map(i => s"tr-2-$i") ++ (0 until 50).map(i => s"tr-new-$i")
    val survivors = idx.dedupEpoch(dedupFrame(3, mixed), 3).select("data").as[String].collect().toSet
    assert(survivors == (0 until 50).map(i => s"tr-new-$i").toSet,
      "post-crash dedup must drop every already-seen payload")
    assert(idx.epochs().sorted == Seq(-2L, 3L) && idx.seenBefore(4).distinct().count() == 350L,
      s"the next compaction folds every leftover in: ${idx.epochs().sorted}")
  }

  test("on a copy-then-delete rename store, a reopened index rebuilds its unbucketed runs and answers exactly") {
    reopenAnswersExactly(copyRename, CopyRenameFs.uri)
  }

  test("on a copy-then-delete rename store, index merges run on the driver below the bucket threshold and on Spark above it") {
    mergesBySize(copyRename, CopyRenameFs.uri)
  }

  test("on a copy-then-delete rename store, a dedup epoch lists the index once and opens no touched run's sidecar again") {
    // bus_dedup-shaped epochs at compactEvery = 2; bucketRows = 64 makes
    // 2-run merges (80 hashes) driver merges and 4-epoch merges (160)
    // bucketed Spark merges
    import spark.implicits._
    val dir = Files.createTempDirectory("seenidx_fscalls").toString
    val sidecars = Set("_run_weight", "_nbuckets", "_bloom")
    def index() = new SeenHashIndex(copyRename, CopyRenameFs.uri(dir), compactEvery = 2, bucketRows = 64L)
    /** Each epoch's root listings and the sidecars it opened. */
    def run(idx: SeenHashIndex, es: Range): Seq[(Long, Int, Seq[String])] = es.map { e =>
      val fresh = (0 until 40).map(i => s"fc-$e-$i")
      val repeats = if (e == 0) Nil else (0 until 10).map(i => s"fc-${e - 1}-$i")
      val (out, listed, opened) = CopyRenameFs.callsUnder(dir)(
        idx.dedupEpoch(dedupFrame(e, fresh ++ repeats ++ fresh.take(5)), e)
          .select(col("data").cast("string")).as[String].collect())
      assert(out.sorted.toSeq == fresh.sorted, s"epoch $e keeps exactly its fresh payloads")
      (e.toLong, listed.count(_ == dir),
        opened.filter(p => sidecars(p.split('/').last)).map(_.stripPrefix(dir + "/")))
    }
    val writer = run(index(), 0 until 11)
    val runs = index().epochs().sorted
    assert(runs == Seq(-8L, -7L, 10L) && runFiles(dir, -7L).contains("_nbuckets") &&
      !runFiles(dir, -8L).contains("_nbuckets"),
      s"precondition: driver and Spark merges, a bucketed and an unbucketed merged run: $runs")
    assert(writer.forall(_._2 == 1), s"root listings per epoch: ${writer.map(c => c._1 -> c._2)}")
    assert(writer.forall(_._3.isEmpty),
      s"the instance wrote every run it touched, yet opened sidecars: ${writer.filter(_._3.nonEmpty)}")
    // a reopened index reads each merged run's sidecars once, on first touch
    val reopened = index()
    val later = run(reopened, 11 until 14)
    assert(later.forall(_._2 == 1), s"root listings per epoch: ${later.map(c => c._1 -> c._2)}")
    // (-8 is unbucketed: its missing _nbuckets fails before any open)
    assert(later.head._3.sorted == Seq("epoch=-7/_bloom", "epoch=-7/_nbuckets", "epoch=-7/_run_weight",
      "epoch=-8/_run_weight") && later.tail.forall(_._3.isEmpty),
      s"sidecar opens per epoch: $later")
    // the public compact lists the root once, merges included
    val (_, listed, _) = CopyRenameFs.callsUnder(dir)(reopened.compact(14))
    assert(reopened.epochs().sorted == Seq(-11L, -10L, -7L) && listed.count(_ == dir) == 1,
      s"compact(14): runs ${reopened.epochs().sorted}, ${listed.count(_ == dir)} root listings")
  }

  test("an index whose .crc files were deleted reopens and answers as with them") {
    // an index written before its I/O went through Hadoop FileSystem has
    // no .crc sidecar beside its driver-written files
    import spark.implicits._
    val withCrc = Files.createTempDirectory("seenidx_crc")
    // bucketRows=64: the first merge (300 hashes) is bucketed on Spark,
    // the second (60) merged on the driver; epochs 6 and 7 stay raw
    val build = new SeenHashIndex(spark, withCrc.toString, compactEvery = 3, bucketRows = 64L)
    for (e <- 0 until 8)
      build.dedupEpoch(dedupFrame(e, (0 until (if (e < 3) 100 else 20)).map(i => s"crc-$e-$i")), e)
        .collect()
    val runs = build.epochs().sorted
    assert(runs == Seq(-2L, -1L, 6L, 7L) &&
      runFiles(withCrc.toString, -1L).contains("_nbuckets") &&
      !runFiles(withCrc.toString, -2L).contains("_nbuckets"),
      s"precondition: a bucketed, a driver-merged and two raw runs: $runs")
    // the same index without its .crc files (a walk lists parents first)
    val noCrc = Files.createTempDirectory("seenidx_nocrc")
    val st = Files.walk(withCrc)
    val all = try st.iterator().asScala.toList finally st.close()
    for (f <- all) {
      val to = noCrc.resolve(withCrc.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else if (!isCrc(f)) Files.copy(f, to)
    }
    assert(all.exists(isCrc), "precondition: the index writes .crc sidecars")
    val (a, b) = (new SeenHashIndex(spark, withCrc.toString, compactEvery = 3, bucketRows = 64L),
      new SeenHashIndex(spark, noCrc.toString, compactEvery = 3, bucketRows = 64L))
    assert(b.epochs().sorted == runs && runs.forall(l => b.rowCountOf(l) == a.rowCountOf(l)))
    val fresh = (0 until 30).map(i => s"crc-new-$i")
    val batch = dedupFrame(8, Seq(0, 4, 6, 7).flatMap(e => (0 until 10).map(i => s"crc-$e-$i")) ++
      fresh ++ fresh.take(5))
    val (outA, outB) = (a.dedupEpoch(batch, 8).select("data").as[String].collect().sorted.toSeq,
      b.dedupEpoch(batch, 8).select("data").as[String].collect().sorted.toSeq)
    assert(outA == fresh.sorted && outB == outA, s"survivors with .crc $outA, without $outB")
    a.compact(9)
    b.compact(9)
    val (seenA, seenB) = (a.seenBefore(9).as[Long].collect().sorted.toSeq,
      b.seenBefore(9).as[Long].collect().sorted.toSeq)
    assert(seenA.size == 300 + 5 * 20 + 30 && seenB == seenA,
      "the merges of both copies must hold the same hashes")
  }

  test("bus epochs with a checkpoint and parquet sinks start no chmod or readlink process") {
    // every process the JVM starts while five epochs run: file source log,
    // offsets and commits logs, a dedup index (compactEvery = 2: driver
    // merges at epochs 2 and 4, a cascade at 4), route and dead-letter
    // parquet writes; then the index reopened and read back from disk
    val root = Files.createTempDirectory("busforks")
    val spool = Files.createDirectories(root.resolve("spool"))
    val b64 = java.util.Base64.getEncoder
    def put(f: Int): Unit = {
      val lines = (0 until 9).map { i =>
        val payload = s"${Seq("x", "y", "fail")(i % 3)};$f-$i"
        s"""{"id":"$f-$i","data_b64":"${b64.encodeToString(payload.getBytes("UTF-8"))}"}"""
      }
      val tmp = Files.write(root.resolve(s"part-$f.json"), lines.asJava)
      Files.move(tmp, spool.resolve(tmp.getFileName), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val data = substring_index(col("data").cast("string"), ";", 1)
    val idx = new SeenHashIndex(spark, root.resolve("index").toString, compactEvery = 2)
    val route = FrizzleStream.exprProcessor(dest = when(data =!= "fail", data),
      failed = data === "fail")
    val bus = new FrizzleStream(spark, new JsonDirSource(spool.toString, 1), route,
      new FileAdapters.ParquetDirSink(root.resolve("out").toString),
      Some(new FileAdapters.ParquetDirSink(root.resolve("dlq").toString)),
      checkpointDir = Some(root.resolve("ckpt").toString),
      epochProcess = Some((df, e) => route(idx.dedupEpoch(df, e))))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val commands = try {
      rec.start()
      bus.start()
      for (f <- 0 until 5) { put(f); bus.awaitIdle() }
      assert(bus.flushAndClose(10000))
      // a restarted bus reopens its index, which lists every run and reads
      // it back from its parquet footers and pages
      import spark.implicits._
      val reopened = new SeenHashIndex(spark, root.resolve("index").toString, compactEvery = 2)
      val kept = reopened.dedupEpoch(Seq(Msg.utf8("r0", "x;0-0"), Msg.utf8("r1", "x;new")).toDF(), 5)
        .select(col("data").cast("string")).as[String].collect()
      assert(kept.toSeq == Seq("x;new"), s"the reopened index keeps only the new payload: ${kept.toSeq}")
      rec.stop()
      val dump = root.resolve("forks.jfr")
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally rec.close()
    assert(bus.stats.snapshot("send") == 30 && bus.stats.snapshot("failsink") == 15)
    for (d <- Seq("out/dest=x", "out/dest=y", "dlq/dest=failed"))
      assert(Files.isDirectory(root.resolve(s"$d/batch_id=4")), d)
    assert(idx.epochs().sorted == Seq(-3L, 4L, 5L),
      s"runs 0-3 merged on the driver, epoch 5 from the reopened index: ${idx.epochs()}")
    val forks = commands.filter(_.matches("""(\S*/)?(chmod|readlink|ls|stat)\b.*"""))
    assert(forks.isEmpty, s"${forks.size} of ${commands.size} process starts " +
      s"${forks.groupBy(_.takeWhile(_ != ' ')).view.mapValues(_.size).toMap}: ${forks.take(4)}")
  }

  test("a dedup bus epoch over 4 source files writes one parquet file per destination") {
    val root = Files.createTempDirectory("busparts")
    val spool = Files.createDirectories(root.resolve("spool"))
    val b64 = java.util.Base64.getEncoder
    // every file carries every destination, and a copy of a payload that
    // an earlier file also holds
    for (f <- 0 until 4) {
      val lines = (0 until 12).map { i =>
        val payload = s"${Seq("x", "y", "z")(i % 3)};f$f-$i"
        s"""{"id":"$f-$i","data_b64":"${b64.encodeToString(payload.getBytes("UTF-8"))}"}"""
      } :+ s"""{"id":"$f-dup","data_b64":"${b64.encodeToString("x;shared".getBytes("UTF-8"))}"}"""
      Files.write(spool.resolve(s"part-$f.json"), lines.asJava)
    }
    val idx = new SeenHashIndex(spark, root.resolve("index").toString)
    val route = FrizzleStream.exprProcessor(
      dest = substring_index(decode(col("data"), "UTF-8"), ";", 1),
      failed = lit(false))
    val out = root.resolve("sink")
    val bus = new FrizzleStream(spark, new JsonDirSource(spool.toString, 10),
      route, new FileAdapters.ParquetDirSink(out.toString),
      checkpointDir = Some(root.resolve("ckpt").toString),
      epochProcess = Some((df, e) => route(idx.dedupEpoch(df, e))))
    bus.start()
    bus.awaitIdle()
    assert(bus.flushAndClose(10000))
    assert(bus.stats.snapshot("rcv") == 4 * 12 + 1,
      "one epoch: 48 distinct payloads and one of the 4 shared copies")
    for (d <- Seq("x", "y", "z")) {
      val dir = out.resolve(s"dest=$d/batch_id=0")
      val st = Files.list(dir)
      val parquet = try st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toList
      finally st.close()
      assert(parquet.size == 1, s"dest $d wrote ${parquet.size} files: $parquet")
    }
  }

  test("a dedup epoch that compacts sub-threshold runs starts no more jobs than one that does not") {
    // two indexes fed the same epochs; only the second compacts (its three
    // runs merge on the driver) when epoch 3 arrives
    import spark.implicits._
    val plain = new SeenHashIndex(spark,
      Files.createTempDirectory("seenidx_plain").toString)
    val compactingDir = Files.createTempDirectory("seenidx_compacting").toString
    val compacting = new SeenHashIndex(spark, compactingDir, compactEvery = 3)
    for (idx <- Seq(plain, compacting); e <- 0 until 3)
      idx.dedupEpoch(dedupFrame(e, (0 until 200).map(i => s"cj-$e-$i")), e)
        .collect()
    val fresh = (0 until 100).map(i => s"cj-new-$i")
    val batch = dedupFrame(3, (0 until 50).map(i => s"cj-0-$i") ++
      (0 until 50).map(i => s"cj-2-$i") ++ fresh ++ fresh.take(20))
    val (plainOut, plainJobs) = jobsStartedBy(
      plain.dedupEpoch(batch, 3).select("data").as[String].collect())
    val (compactOut, compactJobs) = jobsStartedBy(
      compacting.dedupEpoch(batch, 3).select("data").as[String].collect())
    assert(plainOut.sorted.toSeq == fresh.sorted &&
      compactOut.sorted.toSeq == fresh.sorted,
      "both indexes must keep exactly the fresh payloads")
    val merged = compacting.epochs().filter(_ < 0)
    assert(merged.size == 1 && compacting.epochs().count(_ >= 0) == 1,
      s"epochs 0-2 must merge into one run: ${compacting.epochs().sorted}")
    assert(!runFiles(compactingDir, merged.head).contains("_nbuckets"),
      "a 600-hash merge stays below the bucket threshold")
    assert(compactJobs <= plainJobs,
      s"compacting epoch started $compactJobs Spark jobs, non-compacting $plainJobs")
  }

  test("index merges: below the bucket threshold on the driver with no job, above it bucketed on Spark") {
    mergesBySize(spark, identity)
  }

  /** The two merge paths on `session` with the index at `at(local dir)`. */
  private def mergesBySize(session: org.apache.spark.sql.SparkSession,
      at: String => String): Unit = {
    import spark.implicits._
    val smallDir = Files.createTempDirectory("seenidx_drivermerge").toString
    val bigDir = Files.createTempDirectory("seenidx_sparkmerge").toString
    val small = new SeenHashIndex(session, at(smallDir))
    // bucketRows=64: the 600-hash merge clears 2·bucketRows and buckets
    val big = new SeenHashIndex(session, at(bigDir), bucketRows = 64L)
    for (idx <- Seq(small, big); e <- 0 until 2)
      idx.append(spark.range(e * 300L, (e + 1) * 300L).select(col("id").as("h")), e)
    val (_, smallJobs) = jobsStartedBy(small.compact(2))
    val (_, bigJobs) = jobsStartedBy(big.compact(2))
    assert(smallJobs == 0, s"a sub-threshold merge started $smallJobs Spark jobs")
    assert(bigJobs > 0, "a bucketed merge runs on Spark")
    val Seq(s) = small.epochs()
    assert(runFiles(smallDir, s).filterNot(_.endsWith(".parquet")) ==
      Seq("_run_weight") && visibleParquet(smallDir, s).size == 1,
      s"driver merge layout: ${runFiles(smallDir, s)}")
    val Seq(b) = big.epochs()
    val bucketDirs = visibleParquet(bigDir, b).map(_.takeWhile(_ != '/')).distinct
    assert(runFiles(bigDir, b).contains("_nbuckets") &&
      Files.readString(java.nio.file.Paths.get(s"$bigDir/epoch=$b", "_nbuckets"))
        .trim.toInt == 10 && bucketDirs.size > 1 &&
      bucketDirs.forall(_.startsWith("b=")),
      s"Spark merge layout: ${runFiles(bigDir, b)}")
    for (idx <- Seq(small, big))
      assert(idx.seenBefore(2).as[Long].collect().sorted.toSeq == (0L until 600L),
        "both merge paths must hold exactly the appended hashes")
  }

  test("driver-written raw and merged runs read back exactly through Spark and the driver") {
    import spark.implicits._
    val idxDir = Files.createTempDirectory("seenidx_interop").toString
    val idx = new SeenHashIndex(spark, idxDir)
    // overlapping raw runs, plus a run written by Spark itself (snappy,
    // dictionary-encoded, no bloom) as an earlier layout would have left
    for (e <- 0 until 4)
      idx.append(spark.range(e * 100L, e * 100L + 150).select(col("id").as("h")), e)
    spark.range(420L, 480L).select(col("id").as("h"))
      .write.parquet(s"$idxDir/epoch=4")
    val expected = (0L until 480L).toSet
    assert(idx.seenBefore(5).as[Long].collect().toSet == expected)
    idx.compact(5) // fanout 2: all five weight-1 runs merge on the driver
    val Seq(merged) = idx.epochs()
    assert(idx.rowCountOf(merged) == expected.size.toLong,
      "the driver merge must dedup across runs")
    for (e <- 5 until 7)
      idx.append(spark.range(e * 1000L, e * 1000L + 50).select(col("id").as("h")), e)
    val all = expected ++ (5000L until 5050L) ++ (6000L until 6050L)
    assert(idx.seenBefore(7).as[Long].collect().sorted.toSeq == all.toSeq.sorted,
      "Spark reads of driver-written runs must match the driver-side set exactly")
  }

  test("a replayed dedup epoch overwrites its driver-written run and converges") {
    replayConverges(spark, identity, crashFirstAttempt = false)
  }

  /** The replay test on `session` with the index at `at(local dir)`. With
    * `crashFirstAttempt`, the epoch's first attempt dies between the copy
    * and the delete of its data file's rename ([[CopyRenameFs]] only).
    */
  private def replayConverges(session: org.apache.spark.sql.SparkSession,
      at: String => String, crashFirstAttempt: Boolean): Unit = {
    import spark.implicits._
    val idxDir = Files.createTempDirectory("seenidx_replay").toString
    val idx = new SeenHashIndex(session, at(idxDir))
    for (e <- 0 until 2)
      idx.dedupEpoch(dedupFrame(e, (0 until 100).map(i => s"rp-$e-$i")), e).collect()
    val batch = dedupFrame(2, (0 until 30).map(i => s"rp-1-$i") ++
      (0 until 70).map(i => s"rp-new-$i"))
    if (crashFirstAttempt) {
      intercept[java.io.IOException](CopyRenameFs.crashingRenames(idxDir,
        _.endsWith(".parquet"))(idx.dedupEpoch(batch, 2)))
      assert(runFiles(idxDir, 2).size == 2 && visibleParquet(idxDir, 2).size == 1,
        s"the crash leaves the data file copied beside its hidden source: ${runFiles(idxDir, 2)}")
    }
    val first = idx.dedupEpoch(batch, 2).select("data").as[String].collect().toSet
    val before = idx.seenBefore(3).as[Long].collect().sorted.toSeq
    val Seq(firstFile) = visibleParquet(idxDir, 2)
    val replay = idx.dedupEpoch(batch, 2).select("data").as[String].collect().toSet
    assert(first == (0 until 70).map(i => s"rp-new-$i").toSet && replay == first,
      "the replay must keep the same survivors")
    val after = runFiles(idxDir, 2)
    assert(after.size == 1 && visibleParquet(idxDir, 2) == after &&
      !after.contains(firstFile),
      s"the replay must replace the run, not add to it: $after")
    assert(idx.seenBefore(3).as[Long].collect().sorted.toSeq == before,
      "the replayed run must hold the same hashes")
  }

  test("a hidden temp file in a run is invisible to Spark reads, footer counts and the driver merge") {
    import spark.implicits._
    val idxDir = Files.createTempDirectory("seenidx_hidden").toString
    val idx = new SeenHashIndex(spark, idxDir)
    for (e <- 0 until 2)
      idx.append(spark.range(e * 100L, e * 100L + 100).select(col("id").as("h")), e)
    // the leftovers of crashed writes: a hidden temp data file (as the
    // driver writer names it) and a Spark committer `_temporary` dir, both
    // holding hashes no run has
    val donorDir = Files.createTempDirectory("seenidx_donor").toString
    new SeenHashIndex(spark, donorDir)
      .append(spark.range(5000L, 5100L).select(col("id").as("h")), 0)
    val donor = java.nio.file.Paths.get(s"$donorDir/epoch=0",
      visibleParquet(donorDir, 0).head)
    val run0 = java.nio.file.Paths.get(s"$idxDir/epoch=0")
    Files.copy(donor, run0.resolve(".part-00000-crashed.parquet"))
    val tempDir = Files.createDirectories(run0.resolve("_temporary/0"))
    Files.copy(donor, tempDir.resolve("part-00000-attempt.parquet"))
    val expected = (0L until 200L)
    assert(idx.seenBefore(2).as[Long].collect().sorted.toSeq == expected,
      "Spark reads must skip the hidden files")
    assert(idx.rowCountOf(0) == 100L, "footer counts must skip the hidden files")
    idx.compact(2)
    val Seq(merged) = idx.epochs()
    assert(idx.rowCountOf(merged) == 200L &&
      idx.seenBefore(2).as[Long].collect().sorted.toSeq == expected,
      "the driver merge must not read the hidden files")
  }

  test("tiered compaction soak: 600 epochs hold the log asymptote") {
    // The 24-epoch test pins correctness; this pins the ASYMPTOTE the
    // design argues for — over a 600-epoch lifetime (size-scaled: tiny
    // epochs, append+compact only; dedupEpoch's anti-join semantics are
    // already pinned above) the run-directory count must stay
    // ≤ fanout·⌈log_fanout(epochs)⌉ + a torn-run allowance at EVERY
    // epoch, and cumulative compaction bytes must stay within the
    // rewrite bound (each hash moves at most ⌈log_fanout(epochs)⌉ times;
    // +1 level of headroom for parquet per-file overhead, which
    // dominates at this scaled-down epoch size). A super-logarithmic
    // scheme fails both well before epoch 600.
    import spark.implicits._
    val fanout = 4
    val nEpochs = 600
    val idxDir = Files.createTempDirectory("seenidx_soak")
    val idx = new SeenHashIndex(spark, idxDir.toString, compactEvery = fanout)
    def log4ceil(n: Int): Int =
      math.ceil(math.log(n.toDouble) / math.log(fanout.toDouble)).toInt
    var appendedBytes = 0L
    var dirPeakRelative = 0.0
    for (e <- 0 until nEpochs) {
      if (idx.epochs().count(_ < e) >= fanout) idx.compact(e)
      // 16 fresh hashes per epoch — the machinery under test is run
      // bookkeeping, not row volume
      idx.append(spark.range(e * 16L, e * 16L + 16).select(col("id").as("h")), e)
      appendedBytes += bytesUnder(idxDir.resolve(s"epoch=$e"))
      val bound = fanout * math.max(1, log4ceil(math.max(2, e + 1))) + fanout
      dirPeakRelative = math.max(dirPeakRelative,
        idx.epochs().size.toDouble / bound)
    }
    assert(dirPeakRelative <= 1.0,
      f"directory count exceeded fanout·⌈log⌉+fanout at some epoch (peak ratio $dirPeakRelative%.2f)")
    val ampBound = (log4ceil(nEpochs) + 1).toLong
    assert(idx.compactBytesWritten <= ampBound * appendedBytes,
      s"write amplification ${idx.compactBytesWritten}B vs appended " +
        s"${appendedBytes}B exceeds the ${ampBound}x log bound")
    // the logical history survives the whole soak exactly
    assert(idx.seenBefore(nEpochs.toLong).distinct().count() == nEpochs * 16L,
      "soaked index must hold exactly the distinct appended hashes")
  }
}
