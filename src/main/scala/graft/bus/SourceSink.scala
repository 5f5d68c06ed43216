package graft.bus

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Pluggable message source: exposes the incoming stream as a streaming
  * DataFrame with columns (id, data, ts) — the analog of the reference's
  * Source (Receive/Stop/Close, /root/reference/msg.go:24-31). Ack/Fail are
  * epoch-level in this engine: a micro-batch's offset range commits at the
  * checkpoint once its foreachBatch completes (see FrizzleStream), which is
  * the documented at-least-once equivalence (SURVEY.md §7.5).
  *
  * Production sources bind to `spark.readStream.format("kafka")` etc.; the
  * in-test source wraps MemoryStream — the analog of the reference's basic
  * channel-backed Source (/root/reference/basic/source.go).
  */
trait BusSource {
  def stream(spark: SparkSession): DataFrame
  /** Stop admitting new input (drain begins). */
  def stop(): Unit = ()
  def close(): Unit = ()
}

/** Pluggable message sink: writes one completed micro-batch of messages to
  * a destination — the analog of the reference's Sink Send/Close
  * (/root/reference/msg.go:34-38). Implementations must be idempotent per
  * (batchId, dest) for exactly-once sinks, or tolerate replays
  * (at-least-once) otherwise.
  *
  * Writes of one epoch may run CONCURRENTLY, as the reference's sinks are
  * called from many goroutines: [[FrizzleStream]] writes every destination
  * of an epoch at once (different `dest`, same `batchId`, on one sink) and
  * the dead-letter write on the fail sink beside them. Each write runs
  * under the epoch's Spark local properties, and the epoch commits only
  * after all of them have returned. `close` is never called while a write
  * runs.
  *
  * An epoch within the bus's driver bound (its routed rows take at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, 64 MiB by default)
  * reaches `write` as a driver-held batch: its optimized plan is a
  * `LocalRelation`, so collecting it starts no Spark job. The in-repo sinks
  * write such a batch on the driver ([[FileAdapters.ParquetDirSink]] through
  * Hadoop `FileSystem`); any other batch reaches `write` as a frame over
  * the epoch's cached rows.
  */
trait BusSink {
  def write(batch: Dataset[Msg], dest: String, batchId: Long): Unit
  def close(): Unit = ()

  /** Whether this sink can address `dest` at all (e.g. a path-partitioned
    * sink cannot address a dest containing glob metacharacters). The bus
    * consults this BEFORE write: dest is a data-computed value, so an
    * unaddressable dest must dead-letter the affected rows, not throw in
    * the sink — a throw terminates the query and re-throws on every
    * checkpoint replay of the epoch (a permanent poison pill).
    */
  def safeDest(dest: String): Boolean = true
}

/** In-memory source over MemoryStream, for tests and local pipelines.
  * Buffered admission (`maxPerTrigger` ≈ the reference's BUFFER_SIZE 500,
  * /root/reference/basic/source.go:13-17) comes from trigger pacing.
  */
final class MemorySource(spark: SparkSession) extends BusSource {
  import spark.implicits._

  private val ms: MemoryStream[Msg] = MemoryStream[Msg](spark)
  @volatile private var stopped = false

  def put(msgs: Msg*): Unit = {
    require(!stopped, "source is stopped")
    ms.addData(msgs)
  }

  def stream(sparkSession: SparkSession): DataFrame = ms.toDF()

  override def stop(): Unit = stopped = true
}

/** In-memory sink collecting messages per destination — the analog of the
  * reference's basic Sink (map[dest][]Msg, /root/reference/basic/sink.go:
  * 28-37). Thread-safe; replays of the same (batchId, dest) are dropped so
  * delivery is effectively exactly-once, mirroring ErrAlreadyAcked dedup.
  */
final class MemorySink extends BusSink {
  private val byDest = new ConcurrentHashMap[String, ArrayBuffer[Msg]]()
  private val seenBatches = ConcurrentHashMap.newKeySet[(Long, String)]()
  private val replayCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Dropped duplicate deliveries so far — the observable analog of the
    * reference's ErrAlreadyAcked (/root/reference/msg.go:8-10,
    * common/unacked.go:33-35): per-Msg double-ack surfaces as an error
    * return there; epoch-level ack surfaces the double-delivery here, as a
    * counted replay at the sink.
    */
  def replays: Long = replayCounter.get

  def write(batch: Dataset[Msg], dest: String, batchId: Long): Unit = {
    // Mark (batchId, dest) seen only once the append succeeds: if collect or
    // append throws, the key is released so the epoch's replay is re-accepted
    // rather than silently dropped (exactly-once = dedup of *successful*
    // deliveries).
    val key = (batchId, dest)
    if (!seenBatches.add(key)) { replayCounter.incrementAndGet(); return }
    try {
      val rows = batch.collect()
      byDest.computeIfAbsent(dest, _ => ArrayBuffer.empty[Msg])
        .synchronized { byDest.get(dest) ++= rows }
    } catch {
      case e: Throwable =>
        seenBatches.remove(key)
        throw e
    }
  }

  def sent(dest: String): Seq[Msg] =
    Option(byDest.get(dest)).map(_.toSeq).getOrElse(Seq.empty)

  def dests: Set[String] = byDest.keySet().asScala.toSet
}

/** IN-PROCESS bus chaining: ONE object that is both a [[BusSink]] and a
  * [[BusSource]] — the interface-conformance analog of the reference's
  * `Friz`, which literally implements Source and Sink
  * (/root/reference/frizzle.go:23-25) so one bus's output feeds another
  * without leaving the process. The upstream FrizzleStream takes it as
  * `sink`; the downstream takes the same instance as `source`; dest
  * collapses at the link (a chained `Friz` has no per-message dest
  * dimension either — its configured transport does the routing).
  *
  * Dest scoping uses the bus's safeDest contract, not silent drops: a
  * chain constructed for a dest subset declares everything else
  * unaddressable, so the upstream bus DEAD-LETTERS non-chained dests to
  * its fail sink (the same route unaddressable parquet dests take) —
  * no row can vanish at the link.
  *
  * Replayed upstream epochs dedup on (batchId, dest) exactly like
  * [[MemorySink]], so the downstream sees each epoch once (exactly-once
  * across the link on top of at-least-once epoch replay). The handoff
  * collects the routed epoch through the driver into a MemoryStream —
  * this is the test/local-pipeline composition adapter completing the
  * 1:1 Friz story; the executor-side store handoff
  * ([[FileAdapters.chainSource]] + ParquetDirSink) remains the
  * at-scale chain (SURVEY §2-C).
  */
final class MemoryChain(spark: SparkSession,
    dests: Option[Set[String]] = None,
    maxBufferedRows: Long = 10_000_000L,
    maxTrackedEpochs: Int = 100_000) extends BusSource with BusSink {
  import spark.implicits._

  private val ms: MemoryStream[Msg] = MemoryStream[Msg](spark)
  private val seenBatches = ConcurrentHashMap.newKeySet[(Long, String)]()
  private val replayCounter = new java.util.concurrent.atomic.AtomicLong()
  private val forwardedCounter = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var stopped = false

  /** Dropped duplicate epoch deliveries (MemorySink.replays analog). */
  def replays: Long = replayCounter.get
  /** Rows handed across the link so far. */
  def forwarded: Long = forwardedCounter.get

  override def safeDest(dest: String): Boolean = dests.forall(_.contains(dest))

  // ---- sink half (upstream side) ----
  // synchronized: admission must be atomic per (batchId, dest). Without
  // it, a concurrent duplicate delivery that arrives while the first is
  // in flight sees seenBatches.add()==false, counts as a replay, and
  // returns success — but if the first delivery is then rolled back
  // (cap refusal, addData failure remove the key), the epoch ends up
  // neither admitted nor forwarded while one caller observed success: a
  // silent-loss window the loud-refusal design exists to exclude.
  // Serializing the whole method is cheap here — this is the
  // driver-side test/local adapter; production chains use the
  // executor-side parquet spool (FileAdapters.chainSource).
  def write(batch: Dataset[Msg], dest: String, batchId: Long): Unit = synchronized {
    require(safeDest(dest),
      s"dest '$dest' is not chained (chain carries ${dests.getOrElse(Set("*"))})")
    require(!stopped, "chain is stopped (downstream drain began)")
    // Lifetime guards, loud by design: the driver-side MemoryStream buffer
    // and the (batchId, dest) dedup set both grow for the chain's lifetime
    // (a MemoryStream cannot be trimmed until the downstream commits, and
    // dedup must remember every admitted epoch). That is the documented
    // test/local-pipeline scope — rather than letting a long-running
    // production wiring OOM the driver silently, refuse the write that
    // crosses the cap and name the at-scale alternative.
    val key = (batchId, dest)
    // Dedup BEFORE the epoch-cap guard: a redelivered already-admitted
    // epoch must stay a tolerated replay even when the ledger sits exactly
    // at the cap, which checking the cap first would refuse — breaking
    // at-least-once replay tolerance at the boundary. add() is the atomic admit;
    // a NEW epoch that pushes the ledger past the cap is rolled back and
    // refused loudly.
    if (!seenBatches.add(key)) { replayCounter.incrementAndGet(); return }
    if (seenBatches.size > maxTrackedEpochs) {
      seenBatches.remove(key)
      throw new IllegalStateException(
        s"MemoryChain epoch ledger exceeded $maxTrackedEpochs epochs — this " +
          "adapter is the in-process test/local chain; use " +
          "FileAdapters.chainSource (executor-side parquet spool) for " +
          "long-running pipelines")
    }
    try {
      val rows = batch.collect()
      if (rows.nonEmpty) {
        // Reserve capacity with addAndGet-then-check (not get-then-add):
        // with get-then-add, concurrent sink writes could each pass the
        // check and jointly overshoot the row cap. Over-reservation is
        // rolled back before refusing.
        val reserved = forwardedCounter.addAndGet(rows.length.toLong)
        if (reserved > maxBufferedRows) {
          forwardedCounter.addAndGet(-rows.length.toLong)
          throw new IllegalStateException(
            s"MemoryChain row buffer would exceed $maxBufferedRows rows — " +
              "this adapter collects epochs through the driver; use " +
              "FileAdapters.chainSource for data this size")
        }
        try ms.addData(rows.toIndexedSeq)
        catch {
          case e: Throwable =>
            forwardedCounter.addAndGet(-rows.length.toLong); throw e
        }
      }
    } catch {
      case e: Throwable =>
        seenBatches.remove(key)
        throw e
    }
  }

  // ---- source half (downstream side) ----
  def stream(sparkSession: SparkSession): DataFrame = ms.toDF()

  /** Downstream drain began: refuse further upstream admissions (the
    * upstream epoch fails and replays once the downstream restarts with a
    * fresh chain — the same refusal surface as MemorySource.put after
    * stop()). */
  override def stop(): Unit = stopped = true

  /** Closing either half stops admissions; data already admitted stays
    * readable so the downstream can finish draining (both BusSource and
    * BusSink declare close() — one body serves the diamond). */
  override def close(): Unit = stopped = true
}
