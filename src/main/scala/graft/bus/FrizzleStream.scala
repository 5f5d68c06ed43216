package graft.bus

import java.util.concurrent.{CompletableFuture, CompletionException,
  ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

/** Bus stats counters — the analog of the reference's statsd buckets
  * ctr.rcv / ctr.send / ctr.ack / ctr.fail / ctr.failsink / ctr.error
  * (/root/reference/stats.go, README.md:188-197). The reference increments
  * `ctr.failsend` in code but documents `ctr.failsink`; we standardize on
  * `failsink` (SURVEY.md §7.5).
  */
final class BusStats(sink: StatsSink = NoopStatsSink) {
  val rcv = new AtomicLong()
  val send = new AtomicLong()
  val ack = new AtomicLong()
  val fail = new AtomicLong()
  val failsink = new AtomicLong()
  val error = new AtomicLong()
  @volatile var lastRowsPerSec: Double = 0.0

  // Every mutation goes through one of these so the attached StatsSink sees
  // exactly the deltas the in-process counters see (reference parity:
  // stats.Increment on each bucket, /root/reference/stats.go:5-7).
  private def add(ctr: AtomicLong, bucket: String, n: Long): Unit = {
    ctr.addAndGet(n)
    sink.increment(bucket, n)
  }
  def addRcv(n: Long): Unit = add(rcv, "rcv", n)
  def addSend(n: Long): Unit = add(send, "send", n)
  def addAck(n: Long): Unit = add(ack, "ack", n)
  def addFail(n: Long): Unit = add(fail, "fail", n)
  def addFailsink(n: Long): Unit = add(failsink, "failsink", n)
  def incrError(): Unit = add(error, "error", 1)
  def setRate(rowsPerSec: Double): Unit = {
    lastRowsPerSec = rowsPerSec
    sink.gauge("rate", rowsPerSec)
  }

  def snapshot: Map[String, Long] = Map(
    "rcv" -> rcv.get, "send" -> send.get, "ack" -> ack.get,
    "fail" -> fail.get, "failsink" -> failsink.get, "error" -> error.get)
}

/** Async bus event — analog of the reference's Event interface
  * (/root/reference/event.go:8-15). */
final case class BusEvent(level: String, message: String)

/** The dead-letter configuration as ONE immutable value: sink and dest are
  * validated together (sink.safeDest(dest)) and must be read together — a
  * torn (old sink, new dest) pair was never validated and could poison the
  * next dead-letter write. One @volatile field holding this pair makes both
  * the swap and the epoch snapshot atomic by construction.
  */
private[bus] final case class FailConfig(sink: Option[BusSink], dest: String)

/** The bus: wires source → receive transforms → processor → destination
  * routing → sink(s), with dead-letter routing, stats, rate monitoring,
  * async events and graceful drain — the Spark Structured Streaming
  * re-expression of the reference's Friz (/root/reference/frizzle.go).
  *
  * Semantics (documented deltas in SURVEY.md §7.5):
  *   - Ack is epoch-level: a micro-batch's offsets commit at the checkpoint
  *     when its foreachBatch returns, giving the same at-least-once
  *     guarantee as per-Msg Ack. `stats.ack` counts rows in committed
  *     batches that were not failed.
  *   - Fail is row-level: the processor marks rows failed; they are routed
  *     to the fail sink (dead-letter) inside the same epoch.
  *   - Backpressure is trigger pacing (`maxPerTrigger`) instead of the
  *     reference's unbuffered channel handoff.
  *   - An epoch's sink writes (the dead letters plus one write per
  *     destination) run as ONE concurrent wave on a bus-owned pool, the
  *     analog of the reference's sinks being called from many goroutines;
  *     the epoch commits only after every write has returned.
  *   - A small epoch is written from the driver. The epoch's one Spark job
  *     counts the (dest, failed) census and returns the routed rows while
  *     they fit the driver bound: `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  *     (64 MiB by default) of `UnsafeRow` bytes, the size at which
  *     [[SeenHashIndex.dedupEpoch]] coalesces an epoch to one write task.
  *     Each of the job's n partitions returns its rows only while they take
  *     at most bound/n bytes, so the driver holds at most the bound. Within
  *     it the epoch continues as a driver-held `LocalRelation`: its
  *     dead-letter and per-destination frames fold into `LocalRelation`s,
  *     which [[MemorySink]], [[NoopSink]] and
  *     [[FileAdapters.ParquetDirSink]] take with no further job. Above it
  *     the writes read the epoch's cached frame on Spark.
  *   - AddOptions works on a LIVE bus (/root/reference/frizzle.go:82-87,
  *     including FailSink rewiring mid-run, options.go:35-41,88-90), with
  *     EPOCH granularity: receive transforms, send transforms, the fail
  *     sink and the fail destination are all read by the foreachBatch
  *     driver code — not compiled into the streaming plan — so
  *     [[addReceiveTransforms]] / [[addSendTransforms]] / [[withFailSink]]
  *     may be called while the query runs. Each micro-batch snapshots the
  *     configuration ONCE at entry: an epoch is processed wholly under one
  *     config version (a mid-epoch sink swap would split the epoch's
  *     at-least-once guarantee across two sinks), and a rewire takes effect
  *     at the next epoch boundary — the closest consistent analog of the
  *     reference's per-message pickup of f.tforms (frizzle.go:97-102).
  *
  * The processor is set-oriented: DataFrame(id,data,ts) → same columns plus
  * `dest` (string; null = don't send) and `failed` (boolean). A per-message
  * function lifts into this via a column expression — keeping processing
  * declarative keeps it inside whole-stage codegen and lets Catalyst fuse
  * the transform chain into one stage, which is what makes this bus viable
  * at 100 TB/day rates (no per-record interpreter loop).
  */
final class FrizzleStream(
    spark: SparkSession,
    source: BusSource,
    process: DataFrame => DataFrame,
    sink: BusSink,
    failSink: Option[BusSink] = None,
    failDest: String = "failed",
    receiveTransforms: Seq[MsgTransform] = Nil,
    sendTransforms: Seq[MsgTransform] = Nil,
    checkpointDir: Option[String] = None,
    triggerIntervalMs: Long = 0L,
    defaultFlushTimeoutMs: Long = 30000L,
    rateLogIntervalMs: Long = 30000L,
    // epoch-aware processor: takes (batch, epochId) and REPLACES `process`
    // when set — for stages that maintain cross-epoch state keyed by epoch
    // (e.g. SeenHashIndex.dedupEpoch's replay-safe incremental dedup)
    epochProcess: Option[(DataFrame, Long) => DataFrame] = None,
    // stats egress (reference: statsd via stats.Increment, stats.go:5-7) —
    // every BusStats delta is forwarded here; default keeps stats in-process
    statsSink: StatsSink = NoopStatsSink) {

  import spark.implicits._

  val stats = new BusStats(statsSink)
  private val eventQueue = new ConcurrentLinkedQueue[BusEvent]()
  // fail sinks replaced by a live withFailSink rewire: closed (once) in
  // flushAndClose, after the query has stopped — never mid-run
  private val retiredSinks = new ConcurrentLinkedQueue[BusSink]()
  @volatile private var query: StreamingQuery = _
  // set when runBatch's catch already counted a failure synchronously, so
  // onQueryTerminated can tell a batch error (already in ctr.error) from a
  // terminal error that never reached runBatch (offset resolution,
  // checkpoint corruption) — those must still count once (reference parity:
  // one ctr.error per occurrence, /root/reference/options.go:95-99)
  @volatile private var batchErrorCounted = false

  // The epoch's sink writes run here (see runBatch). Sized by the cluster's
  // parallelism, not by the destination count: dests are data-computed, so
  // extra writes queue. Created in start(); flushAndClose shuts it down and
  // joins its threads once the query has stopped, before any sink closes.
  @volatile private var writePool: ExecutorService = _
  private val writeThreads = new ConcurrentLinkedQueue[Thread]()
  private[graft] val writeThreadPrefix =
    s"frizzle-write-${FrizzleStream.busIds.incrementAndGet()}-"

  // live-mutable configuration (AddOptions parity; see class scaladoc).
  // Volatile: mutators may run on a user thread while foreachBatch reads on
  // the stream-execution thread; runBatch snapshots each value once per
  // epoch so one micro-batch never straddles two config versions. The
  // (failSink, failDest) pair lives in ONE volatile FailConfig so a swap
  // and a snapshot are each a single reference operation — no torn pair.
  @volatile private var failCfgV: FailConfig = FailConfig(failSink, failDest)
  @volatile private var sendTransformsV: Seq[MsgTransform] = sendTransforms
  @volatile private var receiveTransformsV: Seq[MsgTransform] = receiveTransforms
  // Mutators serialize on this lock: each rewire is a read-modify-write
  // (append to a chain, retire the old fail sink), and volatile alone only
  // covers reader-vs-writer — two concurrent AddOptions calls could lose a
  // transform or skip retiring a sink. Epoch readers stay lock-free (one
  // volatile read per snapshot); only the rare mutation path pays.
  private val rewireLock = new Object

  /** AddOptions analog: append receive transforms — callable on a LIVE bus,
    * matching the reference's consume loop which re-reads f.tforms per
    * message (frizzle.go:97-102). The receive chain is applied at epoch
    * entry in runBatch (not fused into the source plan), so a live append
    * takes effect at the next epoch boundary like every other rewire. */
  def addReceiveTransforms(ts: MsgTransform*): FrizzleStream = {
    rewireLock.synchronized { receiveTransformsV = receiveTransformsV ++ ts }
    if (query != null)
      eventQueue.add(BusEvent("info",
        s"live rewire: +${ts.size} receive transform(s) from next epoch"))
    this
  }

  /** AddOptions analog: append send transforms — callable on a LIVE bus
    * (frizzle.go:82-87). Takes effect at the next epoch boundary; the
    * in-flight micro-batch finishes under the config it snapshotted. */
  def addSendTransforms(ts: MsgTransform*): FrizzleStream = {
    rewireLock.synchronized { sendTransformsV = sendTransformsV ++ ts }
    if (query != null)
      eventQueue.add(BusEvent("info",
        s"live rewire: +${ts.size} send transform(s) from next epoch"))
    this
  }

  /** AddOptions analog of FailSink rewiring (options.go:35-41,88-90) —
    * callable on a LIVE bus: attach/replace the dead-letter sink (and
    * optionally its destination) mid-run; dead letters route to the new
    * sink from the next epoch boundary. The same failDest addressability
    * fail-fast as start() applies — a live rewire must not be able to
    * poison the next dead-letter write. */
  def withFailSink(fs: BusSink, dest: Option[String] = None): FrizzleStream = {
    val applied = rewireLock.synchronized {
      val old = failCfgV
      val next = FailConfig(Some(fs), dest.getOrElse(old.dest))
      // validate the COMPLETE new pair before publishing: the new sink must
      // address the dest it will actually be paired with
      require(fs.safeDest(next.dest),
        s"failDest '${next.dest}' is not addressable by the fail sink " +
          "(safeDest=false): rewiring it would poison the next dead-letter write")
      // the replaced sink cannot close yet — an in-flight epoch may have
      // snapshotted it and still be writing; it retires at flushAndClose.
      // Skip if it IS the incoming sink or already retired (an A→B→A cycle
      // must not queue A twice — flushAndClose closes each sink once).
      old.sink.filter(_ ne fs)
        .filterNot(o => retiredSinks.asScala.exists(_ eq o))
        .foreach(retiredSinks.add)
      // single volatile write: an epoch snapshot sees either the complete
      // old pair or the complete new pair, never a torn mix
      failCfgV = next
      next
    }
    if (query != null)
      eventQueue.add(BusEvent("info",
        s"live rewire: fail sink -> dest '${applied.dest}' from next epoch"))
    this
  }

  /** Events seen so far (A11 fan-in: listener events + routing errors). */
  def events: Seq[BusEvent] = eventQueue.asScala.toSeq

  // Listener registration is SparkSession-global; with two buses on one
  // session (the supported spool-chaining scenario) every listener sees
  // every query's events. Filter to this bus's query id so stats/events don't
  // absorb the other bus's traffic. The "started" event is emitted directly
  // in start() (the started callback can fire before `query` is assigned).
  private val listener = new StreamingQueryListener {
    private def mine(id: java.util.UUID): Boolean = {
      val q = query
      q != null && q.id == id
    }
    // A13 periodic rate report — the analog of the reference's ticker that
    // logs (acked+failed)/sec every ReportInterval
    // (/root/reference/options.go:44-70). Piggybacked on progress events
    // (no extra thread): at most one line per rateLogIntervalMs, emitted as
    // an info BusEvent and a log line.
    @volatile private var lastRateLog = 0L
    private def maybeLogRate(): Unit = {
      val now = System.currentTimeMillis()
      if (now - lastRateLog >= rateLogIntervalMs) {
        lastRateLog = now
        val line = f"rate: ${stats.lastRowsPerSec}%.1f rows/s " +
          s"acked=${stats.ack.get} failed=${stats.fail.get}"
        eventQueue.add(BusEvent("info", line))
        println(s"[frizzle] $line")
      }
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      // A13 rate monitor: processed rows/sec from engine progress.
      if (mine(e.progress.id)) {
        stats.setRate(e.progress.processedRowsPerSecond)
        maybeLogRate()
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      if (mine(e.id)) {
        e.exception.foreach { ex =>
          // A foreachBatch failure was already counted synchronously in
          // runBatch's catch (counting again would report error=2 for one
          // failure); a terminal error that never entered runBatch — source
          // or offset resolution, checkpoint corruption — has not been
          // counted anywhere yet, so count it here (the reference's
          // ctr.error is one per occurrence, options.go:95-99).
          if (!batchErrorCounted) stats.incrError()
          eventQueue.add(BusEvent("error", ex))
        }
        eventQueue.add(BusEvent("info", s"query terminated ${e.id}"))
      }
    }
  }

  /** Start the bus (A1/A2/A4): one streaming query per bus instance. */
  def start(): FrizzleStream = {
    // one query per bus, explicitly: query is never reset, so a second
    // start() would orphan the first query's listener accounting and make
    // the batchErrorCounted dedup flag ambiguous across queries
    require(query == null,
      "bus already started: one streaming query per bus instance " +
        "(flushAndClose and construct anew to restart)")
    batchErrorCounted = false
    // failDest is config, not data — an unaddressable one would poison the
    // FIRST dead-letter write (requireSafeDest throws inside the fail
    // sink, the epoch fails and replays forever: the exact failure mode
    // safeDest routing exists to prevent on the main sink). Fail fast
    // here instead of on the first dead row.
    val fc0 = failCfgV
    fc0.sink.foreach { fs =>
      require(fs.safeDest(fc0.dest),
        s"failDest '${fc0.dest}' is not addressable by the configured fail " +
          "sink (safeDest=false): the first dead-letter write would " +
          "permanently poison the bus — fix the failDest before start()")
    }
    val threadIds = new AtomicInteger()
    writePool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism, r => {
      val t = new Thread(r, writeThreadPrefix + threadIds.incrementAndGet())
      t.setDaemon(true)
      writeThreads.add(t)
      t
    })
    spark.streams.addListener(listener)
    // receive transforms apply per-epoch inside runBatch (live-rewirable);
    // the streaming plan is just the raw source
    val in = source.stream(spark)
    // Trigger pacing is the batch-size/latency knob: 0 = as-fast-as-
    // possible micro-batches (lowest latency, per-epoch overhead dominates
    // at high rates); a longer interval amortizes the fixed per-epoch cost
    // over bigger batches (measured ~10× throughput at 1 s on a saturated
    // rate source).
    var w = in.writeStream
      .trigger(Trigger.ProcessingTime(triggerIntervalMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatch(batch, batchId)
      }
    checkpointDir.foreach(dir => w = w.option("checkpointLocation", dir))
    query = w.start()
    eventQueue.add(BusEvent("info", s"query started ${query.id}"))
    this
  }

  private def runBatch(batch: DataFrame, batchId: Long): Unit = {
    // Epoch config snapshot: ONE read of each live-mutable setting per
    // micro-batch, so an AddOptions rewire landing mid-batch never splits
    // one epoch's dead letters (or send-transform chain) across two
    // configurations — the rewire takes effect at the next epoch boundary.
    val epochFailCfg = failCfgV // one volatile read: a consistent (sink, dest) pair
    val epochSendTransforms = sendTransformsV
    val epochReceiveTransforms = receiveTransformsV
    // A2 receive chain at epoch entry — live-rewirable like the send chain
    // (reference re-reads f.tforms per message, frizzle.go:97-102; epoch
    // granularity is our documented consistency unit)
    val received = epochReceiveTransforms.foldLeft(batch)((df, t) => t.onReceive(df))
    val routed = epochProcess.map(_(received, batchId)).getOrElse(process(received))
      .select(col("id"), col("data"), col("ts"),
        col("dest").cast("string").as("dest"), col("failed").cast("boolean").as("failed"))
      .persist()
    try {
      // The epoch's one job. Single stats pass: one (dest, failed) census
      // yields every counter and the per-dest send counts. Destinations
      // are topic names — a small bounded set by design, so collecting one
      // micro-batch's census (≤ 3 rows per dest) is driver-safe at any
      // data scale. A row whose `failed` is null, or that is not failed
      // and has a null `dest`, counts in rcv and ack only: it is neither
      // failed nor sendable. Counted per partition and summed here: no
      // shuffle, and it fills `routed`'s cache. The rows are read as the
      // plan's own internal rows, so the epoch pays for no encoder and no
      // SQL execution around this job. Each partition also returns its
      // rows while they fit its share of the driver bound (see the class
      // doc), so the driver never holds more than the bound.
      val bound = GraftBridge.advisoryPartitionBytes(routed.sparkSession)
      val rdd = routed.queryExecution.toRdd
      val share = bound / math.max(1, rdd.getNumPartitions)
      val parts = rdd.mapPartitions(FrizzleStream.censusOf(routed.schema, share)).collect()
      val census = parts.toSeq.flatMap(_._1)
        .groupMapReduce(_._1)(_._2)(_ + _)
        .toSeq.map { case ((d, f), n) => (d, f, n) }
      val total = census.map(_._3).sum
      val nFailed = census.collect { case (_, Some(true), n) => n }.sum
      val destCounts = census.collect { case (Some(d), Some(false), n) => (d, n) }
      val nSend = destCounts.map(_._2).sum
      stats.addRcv(total)

      // within the bound the epoch goes on driver-held: every frame below
      // folds into a LocalRelation, and the sinks take it with no job
      val epoch =
        if (parts.forall(_._2.isDefined))
          GraftBridge.localFrame(routed.sparkSession, routed.schema, parts.toSeq.flatMap(_._2.get))
        else routed
      val sendable = epoch.filter(!col("failed") && col("dest").isNotNull)

      // A4/A7 unaddressable-dest routing: dest is a data-computed value, so
      // a dest the sink cannot address (sink.safeDest) must dead-letter the
      // affected rows, NOT reach sink.write — a throw there terminates the
      // query and replays on every checkpoint restart of the epoch (a
      // permanent poison pill). The sink's own requireSafeDest stays as the
      // last line of defense for direct callers.
      val (safeDests, unsafeDests) = destCounts.partition { case (d, _) => sink.safeDest(d) }
      val nUnsafe = unsafeDests.map(_._2).sum
      if (nUnsafe > 0) {
        eventQueue.add(BusEvent("error", s"batch $batchId: dead-lettered " +
          s"$nUnsafe rows with unaddressable dest(s): " +
          unsafeDests.map(_._1).mkString("'", "', '", "'")))
      }

      // A7 fail + dead-letter route: processor-marked fails AND
      // unaddressable-dest rows, as ONE write per epoch — an idempotent
      // fail sink dedups on (batchId, dest), so two separate writes to
      // (batchId, failDest) would silently drop the second set.
      val nDead = nFailed + nUnsafe
      val deadWrite = if (nDead == 0) None else epochFailCfg.sink.map { fs =>
        val unsafeSet = unsafeDests.map(_._1).toSeq
        val unsafeCond =
          if (unsafeSet.isEmpty) lit(false)
          else !col("failed") && col("dest").isin(unsafeSet: _*)
        val dead = epoch.filter(col("failed") || unsafeCond)
          .select("id", "data", "ts").as[Msg]
        () => fs.write(dead, epochFailCfg.dest, batchId)
      }

      // A4 send + send-transform chain, routed per (addressable) destination.
      val destWrites = safeDests.toSeq.map { case (dest, _) =>
        val out0 = sendable.filter(col("dest") === dest).select("id", "data", "ts")
        val out = epochSendTransforms.foldLeft(out0)((df, t) => t.onSend(df)).as[Msg]
        () => sink.write(out, dest, batchId)
      }

      // stats stay on this thread, after every write has returned; a dead
      // letter counts in failsink only once its write succeeded
      val errors = writeAll(deadWrite.toSeq ++ destWrites)
      if (nDead > 0) stats.addFail(nDead)
      if (deadWrite.isDefined && errors.head.isEmpty) stats.addFailsink(nDead)
      errors.flatten match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ =>
      }
      stats.addSend(nSend - nUnsafe)

      // A6 ack: everything in a committed epoch that wasn't failed (or
      // dead-lettered for an unaddressable dest).
      stats.addAck(total - nDead)
    } catch {
      case e: Throwable =>
        batchErrorCounted = true
        stats.incrError()
        eventQueue.add(BusEvent("error", s"batch $batchId: ${e.getMessage}"))
        throw e
    } finally routed.unpersist()
  }

  /** Run one epoch's writes as one concurrent wave on the write pool and
    * return each one's failure, in order — only once EVERY write has
    * returned. `CompletableFuture.join` waits through interrupts (and
    * re-asserts the flag), so even `q.stop()` interrupting the micro-batch
    * thread cannot end the epoch while one of its writes still runs: a
    * replay of the epoch never races a leftover write to the same
    * (dest, batchId). The writes carry this thread's Spark local
    * properties (job group, batch id), so `q.stop()` cancels their jobs.
    */
  private def writeAll(writes: Seq[() => Unit]): Seq[Option[Throwable]] =
    writes.map { w =>
      try GraftBridge.submitCaptured(writePool)(w())
      catch { case e: Throwable => CompletableFuture.failedFuture[Unit](e) }
    }.map { f =>
      try { f.join(); None }
      catch { case e: CompletionException => Some(Option(e.getCause).getOrElse(e)) }
    }

  /** A15 drain + flush: stop admitting input, process everything available
    * within the timeout, then close in reference order (sink → source →
    * failSink; /root/reference/frizzle.go:155-209).
    *
    * Returns whether the drain COMPLETED. A16-close-refusal parity: the
    * reference's Source.Close refuses while unacked msgs remain
    * (ErrUnackedMsgsRemain, basic/source.go:108-117); a streaming query
    * cannot refuse to stop (the checkpoint preserves the undrained offsets
    * for the next start), so the refusal surfaces as `false` + an error
    * BusEvent instead of silently closing as if drained.
    */
  def flushAndClose(timeoutMs: Long = defaultFlushTimeoutMs): Boolean = {
    source.stop()
    val q = query
    var drained = true
    if (q != null) {
      val drain = new Thread(() => q.processAllAvailable())
      drain.setDaemon(true)
      drain.start()
      drain.join(timeoutMs)
      if (drain.isAlive) {
        drained = false
        eventQueue.add(BusEvent("error", s"drain timed out after ${timeoutMs} ms " +
          "with messages still in flight (unacked msgs remain; they replay " +
          "from the checkpoint on next start)"))
      }
      q.stop()
      q.awaitTermination(timeoutMs)
    }
    // no epoch runs now, so no write is queued or running: retire the pool
    // and its threads before any sink closes
    val pool = writePool
    if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(timeoutMs, TimeUnit.MILLISECONDS)
      writeThreads.forEach(_.join(timeoutMs))
    }
    sink.close()
    source.close()
    // close each dead-letter sink exactly once, by reference identity — an
    // A→B→A rewire cycle can leave A both retired and current
    val toClose = (retiredSinks.asScala.toSeq ++ failCfgV.sink.toSeq)
      .foldLeft(Vector.empty[BusSink])((acc, s) => if (acc.exists(_ eq s)) acc else acc :+ s)
    toClose.foreach(_.close())
    retiredSinks.clear()
    spark.streams.removeListener(listener)
    drained
  }

  /** A17 signal-driven shutdown: drain gracefully on JVM exit, THEN run the
    * app's own teardown — the reference's flush-then-app ordering
    * (`HandleShutdown(appShutdown func())`, /root/reference/options.go:
    * 116-135: FlushAndClose completes before appShutdown is called), so an
    * app with its own resources can sequence their teardown after the bus
    * has drained into them. A JVM shutdown hook is the closest analog of
    * the reference's SIGINT/SIGTERM channel: the JVM installs its default
    * handlers for both signals, and each runs the registered hooks.
    */
  def handleShutdown(timeoutMs: Long = defaultFlushTimeoutMs,
      appShutdown: () => Unit = () => ()): FrizzleStream = {
    sys.addShutdownHook(shutdownSequence(timeoutMs, appShutdown))
    this
  }

  /** The hook body, factored out so BusSpec can pin the ordering contract
    * without sending the test JVM a signal: flush completes (and returns
    * its drained verdict into the event log) strictly before the app
    * callback observes anything.
    */
  private[graft] def shutdownSequence(timeoutMs: Long,
      appShutdown: () => Unit): Unit = {
    flushAndClose(timeoutMs)
    appShutdown()
  }

  def awaitIdle(): Unit = {
    val q = query
    if (q != null) q.processAllAvailable()
  }
}

object FrizzleStream {
  private val busIds = new AtomicLong()

  /** One partition of a routed epoch (id, data, ts, dest, failed): its
    * (dest, failed) values counted, and its rows, copied as `UnsafeRow`s,
    * if together they take at most `share` bytes. The rows are dropped as
    * soon as they pass `share`, so a task holds at most `share` bytes of
    * them.
    */
  private def censusOf(schema: StructType, share: Long)(rows: Iterator[InternalRow])
      : Iterator[(Seq[((Option[String], Option[Boolean]), Long)], Option[Array[InternalRow]])] = {
    val n = scala.collection.mutable.HashMap[(Option[String], Option[Boolean]), Long]()
    lazy val toUnsafe = UnsafeProjection.create(schema)
    var held = Option(Array.newBuilder[InternalRow])
    var bytes = 0L
    rows.foreach { r =>
      val k = (if (r.isNullAt(3)) None else Some(r.getUTF8String(3).toString),
        if (r.isNullAt(4)) None else Some(r.getBoolean(4)))
      n(k) = n.getOrElse(k, 0L) + 1
      held.foreach { h =>
        val u = r match {
          case u: UnsafeRow => u.copy()
          case _ => toUnsafe(r).copy()
        }
        bytes += u.getSizeInBytes
        if (bytes <= share) h += u else held = None
      }
    }
    Iterator((n.toSeq, held.map(_.result())))
  }

  /** Lift a per-message routing rule into the set-oriented processor: the
    * rule is a pair of Column expressions over (id, data, ts).
    */
  def exprProcessor(dest: org.apache.spark.sql.Column,
      failed: org.apache.spark.sql.Column): DataFrame => DataFrame =
    df => df.withColumn("dest", dest).withColumn("failed", failed)

  /** Build a bus from [[BusConfig]] — the reference's env surface wired to
    * real behavior (README.md:175-183): MOCK=true swaps both sinks for
    * [[NoopSink]] (A19, basic/source.go:82-84), FAIL_DEST names the
    * dead-letter destination, CHECKPOINT_DIR enables durable offset commit,
    * FLUSH_TIMEOUT_MS becomes the default graceful-drain budget. BUFFER_SIZE
    * is the admission knob consumed by the source adapters
    * ([[FileAdapters.parquetSource]] / [[KafkaAdapters]]), since admission is
    * a property of the source, not the bus.
    */
  def fromConfig(
      spark: SparkSession,
      source: BusSource,
      process: DataFrame => DataFrame,
      sink: BusSink,
      cfg: BusConfig,
      failSink: Option[BusSink] = None,
      receiveTransforms: Seq[MsgTransform] = Nil,
      sendTransforms: Seq[MsgTransform] = Nil,
      triggerIntervalMs: Long = 0L): FrizzleStream =
    new FrizzleStream(
      spark, source, process,
      sink = if (cfg.mock) new NoopSink else sink,
      failSink = if (cfg.mock) failSink.map(_ => new NoopSink) else failSink,
      failDest = cfg.failDest,
      receiveTransforms = receiveTransforms,
      sendTransforms = sendTransforms,
      checkpointDir = cfg.checkpointDir,
      triggerIntervalMs = triggerIntervalMs,
      defaultFlushTimeoutMs = cfg.flushTimeoutMs,
      rateLogIntervalMs = cfg.rateLogIntervalMs)
}

// A18 bus chaining lives in FileAdapters.chainSource + ParquetDirSink: the
// reference's Friz implements both Source and Sink so buses compose
// in-process (/root/reference/frizzle.go:23-25); here the composition is a
// store-backed spool so the handoff never funnels data through the driver.
