package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.bus._

/** Seeded open-loop message generator: one thread, plain file I/O. Each file
  * is written under a staging name and renamed into the spool, so the bus
  * never sees a partial file. Every message carries the time it was due, not
  * the time it was written, and the schedule never waits for the bus.
  *
  * Payload = `<route>;<text>`; route is `dst0`..`dst2`, or `FAIL` for every
  * 10th fresh message. With `replayShare > 0` that share of messages repeat
  * an earlier payload at a log-uniform distance, so dedup lookups reach both
  * recent raw runs and old merged tiers.
  */
final class MsgGen(seed: Long, replayShare: Double, spool: Path, stage: Path) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val b64 = Base64.getEncoder
  val payloads = mutable.ArrayBuffer[String]()
  val tsMs = mutable.ArrayBuffer[Long]()
  /** (messages in spool after this file, rename completion ms, lateness ms) */
  val files = new ConcurrentLinkedQueue[(Int, Double, Double)]()
  /** messages per spool file name */
  val fileSizes = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private var nFiles = 0

  def id(i: Int): String = f"m$i%09d"
  def count: Int = payloads.size

  private def nextPayload(i: Int): String =
    if (i > 0 && replayShare > 0 && rnd.nextDouble() < replayShare) {
      val d = math.min(i, 1 + math.floor(math.exp(rnd.nextDouble() * math.log(i.toDouble))).toInt)
      payloads(i - d)
    } else {
      val route = if (i % 10 == 9) "FAIL" else s"dst${rnd.nextInt(3)}"
      val n = 24 + rnd.nextInt(64)
      val sb = new StringBuilder(route).append(';').append(seed).append(':').append(i).append(':')
      (0 until n).foreach(_ => sb += ('a' + rnd.nextInt(26)).toChar)
      sb.result()
    }

  /** Write one file of `n` messages all due at `dueMs`. */
  def writeFile(n: Int, dueMs: Long, clock: () => Double): Unit = {
    val ts = Instant.ofEpochMilli(dueMs).toString
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      val i = payloads.size
      val p = nextPayload(i)
      payloads += p
      tsMs += dueMs
      sb ++= "{\"id\":\"" ++= id(i) ++= "\",\"data_b64\":\"" ++=
        b64.encodeToString(p.getBytes(UTF_8)) ++= "\",\"ts\":\"" ++= ts ++= "\"}\n"
    }
    val name = f"f$nFiles%07d.json"
    nFiles += 1
    val tmp = stage.resolve(name)
    Files.write(tmp, sb.result().getBytes(UTF_8))
    fileSizes.put(name, n)
    Files.move(tmp, spool.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    val done = clock()
    files.add((payloads.size, done, done - dueMs))
  }
}

/** Progress of the running bus query, from Spark's public listener. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentHashMap[Long, StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) progress.put(e.progress.batchId, e.progress)
}

/** Input messages per committed epoch, read from the file source's log in
  * the checkpoint (the engine's numInputRows counts a source row once per
  * scan, and the dedup processor scans its batch more than once). */
final class EpochInputs(ckpt: Path, gen: MsgGen) {
  private val Entry = "\"path\":\"[^\"]*/([^/\"]+)\".*\"batchId\":(\\d+)".r.unanchored

  private def listNames(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Nil
    else {
      val st = Files.list(p)
      try st.iterator().asScala.map(_.getFileName.toString).toSeq finally st.close()
    }

  /** Parsed log files; a log file is immutable once written. */
  private val parsed = mutable.Map[String, Seq[(String, Long)]]()

  /** Committed batch id → input messages, in batch order. */
  def committed(): Seq[(Long, Long)] = {
    val done = listNames(ckpt.resolve("commits")).filter(_.forall(_.isDigit)).map(_.toLong).toSet
    val log = ckpt.resolve("sources").resolve("0")
    val entries = listNames(log).filterNot(_.startsWith(".")).flatMap { f =>
      parsed.getOrElse(f, {
        val es = Files.readAllLines(log.resolve(f)).asScala.toSeq.collect {
          case Entry(name, b) => (name, b.toLong)
        }
        if (es.nonEmpty) parsed(f) = es
        es
      })
    }.distinct
    entries.filter(e => done(e._2)).groupBy(_._2).toSeq.sortBy(_._1).map {
      case (b, es) => b -> es.map(e => gen.fileSizes.get(e._1).longValue).sum
    }
  }
}

/** A sink that records each write as a span of the epoch it belongs to. */
final class TimedSink(inner: BusSink, layer: String, tr: Tracer) extends BusSink {
  override def safeDest(dest: String): Boolean = inner.safeDest(dest)
  def write(batch: Dataset[Msg], dest: String, batchId: Long): Unit =
    tr.span(0, s"epoch:$batchId", layer, Map("batch" -> batchId, "dest" -> dest))(
      _ => inner.write(batch, dest, batchId))
  override def close(): Unit = inner.close()
}

/** Result of one bus run: end-to-end values, layer values, check outcome. */
final case class BusOutcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, problems: Seq[String], spans: Seq[Span],
    epochs: Seq[Seq[Double]])

/** `bus_route` and `bus_dedup`: JsonDirSource → FrizzleStream → ParquetDirSink
  * (+ dead-letter ParquetDirSink), optionally with SeenHashIndex.dedupEpoch as
  * the epoch processor. Phase 1 drains a fixed pre-generated backlog (drain
  * rate); phase 2 paces messages at a fixed rate (latency).
  */
object BusWorkload {
  val BacklogPerFile = 150
  val MaxFilesPerTrigger = 20
  /** Backlog epochs run before the drain is timed; the first epoch of a
    * cold JVM takes 3-4 times as long as a warm one. */
  val WarmEpochs = 2
  /** Backlog epochs timed for the drain rate: a long window, because the
    * host's speed wanders by tens of percent over seconds. */
  val DrainEpochs = 8
  val TickMs = 200
  /** Share of the run's seconds spent in the paced phase. */
  val PacedShare = 2.0 / 3
  /** Index compaction threshold and fanout: small, so that compactions
    * recur through the paced phase instead of landing once. */
  val CompactEvery = 2
  /** Share of bus_dedup payloads that repeat an earlier one. */
  val ReplayShare = 0.25

  private val route = FrizzleStream.exprProcessor(
    dest = substring_index(decode(col("data"), "UTF-8"), ";", 1),
    failed = col("dest") === "FAIL")

  final case class Dirs(root: Path) {
    val spool: Path = mk("spool")
    val stage: Path = mk("stage")
    val sink: Path = root.resolve("sink")
    val dead: Path = root.resolve("dead")
    val ckpt: Path = root.resolve("ckpt")
    val index: Path = root.resolve("index")
    private def mk(n: String): Path = Files.createDirectories(root.resolve(n))
  }

  private def startBus(spark: SparkSession, d: Dirs, dedup: Boolean,
      tr: Tracer): (FrizzleStream, Option[SeenHashIndex]) = {
    val idx = if (dedup) Some(new SeenHashIndex(spark, d.index.toString,
      compactEvery = CompactEvery)) else None
    def wrap(s: BusSink, layer: String): BusSink =
      if (tr.on) new TimedSink(s, layer, tr) else s
    val epochProcess = idx.map { i => (df: org.apache.spark.sql.DataFrame, e: Long) =>
      val before = i.compactBytesWritten
      route(tr.span(0, s"epoch:$e", "dedup",
        Map("batch" -> e, "compact_bytes" -> (i.compactBytesWritten - before)))(
        _ => i.dedupEpoch(df, e)))
    }
    val bus = new FrizzleStream(spark,
      source = new JsonDirSource(d.spool.toString, MaxFilesPerTrigger),
      process = route,
      sink = wrap(new FileAdapters.ParquetDirSink(d.sink.toString), "sink"),
      failSink = Some(wrap(new FileAdapters.ParquetDirSink(d.dead.toString), "failsink")),
      failDest = "dead",
      checkpointDir = Some(d.ckpt.toString),
      epochProcess = epochProcess)
    (bus.start(), idx)
  }

  /** Wait until the epochs committed so far carry `target` input messages
    * and their progress has been reported. */
  private def awaitInput(inputs: EpochInputs, log: ProgressLog, target: Long,
      what: String): Unit = {
    val end = System.currentTimeMillis() + 120000
    def done: Boolean = {
      val c = inputs.committed()
      c.map(_._2).sum >= target && c.forall { case (b, _) => log.progress.containsKey(b) }
    }
    while (!done) {
      if (System.currentTimeMillis() > end)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  private def commitMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble + p.durationMs.get("triggerExecution").doubleValue

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** One run: a backlog of `warmEpochs + drainEpochs` full epochs, of which
    * the first `warmEpochs` are warm-up, then (unless `drainOnly`) the paced
    * phase. */
  def run(spark: SparkSession, root: Path, dedup: Boolean, seed: Long,
      pacedSeconds: Double, pacedRate: Int, tr: Tracer,
      jobs: Option[JobListener], drainOnly: Boolean = false,
      warmEpochs: Int = WarmEpochs, drainEpochs: Int = DrainEpochs): BusOutcome = {
    val d = Dirs(root)
    val gen = new MsgGen(seed, if (dedup) ReplayShare else 0.0, d.spool, d.stage)
    val t0 = System.currentTimeMillis()
    val backlogFiles = (warmEpochs + drainEpochs) * MaxFilesPerTrigger
    (0 until backlogFiles).foreach(_ => gen.writeFile(BacklogPerFile, t0, () => tr.now))
    val backlog = gen.count
    val warmRows = warmEpochs * MaxFilesPerTrigger * BacklogPerFile
    val log = new ProgressLog
    spark.streams.addListener(log)
    val (bus, idx) = startBus(spark, d, dedup, tr)
    val inputs = new EpochInputs(d.ckpt, gen)
    var pacedStart = 0.0
    try {
      awaitInput(inputs, log, backlog, "backlog drain")
      if (!drainOnly) {
        val perTick = math.max(1, pacedRate * TickMs / 1000)
        val ticks = math.round(pacedSeconds * 1000 / TickMs).toInt
        val start = System.currentTimeMillis() + TickMs
        pacedStart = start.toDouble
        val th = new Thread(() => (0 until ticks).foreach { k =>
          val due = start + k.toLong * TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          gen.writeFile(perTick, due, () => System.currentTimeMillis().toDouble)
        }, "perfbench-gen")
        th.start()
        th.join()
        awaitInput(inputs, log, gen.count, "paced drain")
      }
    } finally {
      bus.flushAndClose()
      spark.streams.removeListener(log)
    }
    jobs.foreach(_ => org.apache.spark.sql.GraftBridge.drainListenerBus(spark))

    val rowsOf = inputs.committed().toMap
    val prog = log.progress.asScala.values.toSeq.filter(p => rowsOf.contains(p.batchId))
      .sortBy(_.batchId)
    // ---- end to end: drain rate over the backlog after the warm-up epochs,
    // latency over the paced phase
    val cumRows = prog.scanLeft(0L)((c, p) => c + rowsOf(p.batchId)).tail
    val warmEnd = prog(cumRows.indexWhere(_ >= warmRows))
    val drainEnd = prog(cumRows.indexWhere(_ >= backlog))
    val firstStart = Instant.parse(prog.head.timestamp).toEpochMilli.toDouble
    val drainS = (commitMs(drainEnd) - commitMs(warmEnd)) / 1000.0
    val commitOf = prog.map(p => p.batchId -> commitMs(p)).toMap

    val delivered = readOutputs(spark, d)
    val (attempted, failed, problems) = check(gen, delivered, dedup, bus.stats.snapshot)
    val lat = delivered.filter(_.idx >= backlog).flatMap { r =>
      commitOf.get(r.batch).map(_ - gen.tsMs(r.idx))
    }
    val e2e = Map(
      "warm_s" -> (commitMs(warmEnd) - firstStart) / 1000.0,
      "msgs_per_s" -> (backlog - warmRows) / drainS,
      "batch_s" -> drainS,
      "lat_p50_ms" -> Stats.pct(lat, 50),
      "lat_p99_ms" -> Stats.pct(lat, 99),
      "lat_samples" -> lat.size.toDouble)
    val epochs = prog.map(p => Seq(p.batchId.toDouble, rowsOf(p.batchId).toDouble,
      dur(p, "triggerExecution"), dur(p, "addBatch")))

    // ---- layers
    val spans = if (tr.on) epochSpans(tr, prog, rowsOf) else Nil
    val layers = mutable.LinkedHashMap[String, Double]()
    def p50(f: StreamingQueryProgress => Double): Double = Stats.median(prog.map(f))
    layers("source.offset_ms") = p50(p => dur(p, "latestOffset") + dur(p, "getBatch"))
    layers("bus.plan_ms") = p50(dur(_, "queryPlanning"))
    layers("bus.batch_ms") = p50(dur(_, "addBatch"))
    layers("commit.ms") = p50(p => dur(p, "walCommit") + dur(p, "commit"))
    layers("bus.epoch_rows") = p50(p => rowsOf(p.batchId).toDouble)
    layers("bus.epochs") = prog.size.toDouble
    val byEpoch = tr.spans.groupBy(_.trace)
    def perEpoch(name: String): Seq[Double] = prog.map { p =>
      byEpoch.getOrElse(s"epoch:${p.batchId}", Nil).filter(_.name == name).map(_.ms).sum
    }
    val sinkMs = perEpoch("sink")
    val failMs = perEpoch("failsink")
    val dedupMs = perEpoch("dedup")
    layers("sink.write_ms") = Stats.median(sinkMs)
    layers("failsink.write_ms") = Stats.median(failMs)
    layers("bus.route_self_ms") = Stats.median(prog.indices.map { i =>
      dur(prog(i), "addBatch") - sinkMs(i) - failMs(i) - dedupMs(i) })
    layers("dedup.epoch_ms") = if (dedup) Stats.median(dedupMs) else 0.0
    layers("dedup.epoch_ms_p99") = if (dedup) Stats.pct(dedupMs, 99) else 0.0
    layers("dedup.compactions") = tr.spans.count(s =>
      s.name == "dedup" && s.attrs.get("compact_bytes").exists(_ != 0L)).toDouble
    val indexBytes = idx.map(_ => dirBytes(d.index)).getOrElse(0L).toDouble
    val compactBytes = idx.map(_.compactBytesWritten).getOrElse(0L).toDouble
    layers("dedup.compact_bytes") = compactBytes
    layers("dedup.index_bytes") = indexBytes
    layers("dedup.write_amp") = if (indexBytes > 0) compactBytes / indexBytes else 0.0
    layers("dedup.runs") = idx.map(_.epochs().size).getOrElse(0).toDouble
    layers("dedup.survivor_ratio") =
      if (dedup) delivered.size.toDouble / gen.count else 0.0
    // backlog: generated-but-uncommitted messages at each paced commit
    val fileLog = gen.files.asScala.toSeq
    val backlogPts = prog.zip(cumRows).flatMap { case (p, cum) =>
      val c = commitMs(p)
      if (drainOnly || c < pacedStart) None
      else {
        val made = fileLog.filter(_._2 <= c).map(_._1).maxOption.getOrElse(0)
        Some((c / 1000.0, (made - cum).toDouble))
      }
    }
    layers("backlog.max_msgs") = backlogPts.map(_._2).maxOption.getOrElse(0.0).max(0.0)
    layers("backlog.growth_msgs_per_s") = Stats.slope(backlogPts)
    if (layers("backlog.growth_msgs_per_s") > 0.05 * pacedRate)
      System.err.println(s"[perfbench] WARNING: backlog grew by " +
        f"${layers("backlog.growth_msgs_per_s")}%.0f msg/s during the paced phase: " +
        s"$pacedRate msg/s is not sustainable here, so latency grows with run length")
    layers("gen.late_ms_p99") =
      Stats.pct(fileLog.drop(backlogFiles).map(_._3), 99)
    jobs.foreach { jl =>
      val ex = prog.map(p => jl.stats(s"epoch:${p.batchId}"))
      layers("bus.jobs_per_epoch") = Stats.median(ex.map(_.jobs.toDouble))
      layers("exec.cpu_ms") = ex.map(_.cpuMs).sum / ex.size
      layers("exec.gc_ms") = ex.map(_.gcMs).sum / ex.size
      layers("shuffle.write_bytes") = ex.map(_.shuffleWriteBytes.toDouble).sum / ex.size
    }
    BusOutcome(e2e, layers.toMap, attempted, failed, problems, spans, epochs)
  }

  /** Epoch spans from the engine's progress timings, laid out in the order
    * the micro-batch runs them. Wrapper spans (sink, failsink, dedup) and
    * job spans of the epoch become children of its addBatch span.
    */
  private def epochSpans(tr: Tracer, prog: Seq[StreamingQueryProgress],
      rowsOf: Map[Long, Long]): Seq[Span] = {
    val all = tr.spans
    val byTrace = all.groupBy(_.trace)
    prog.foreach { p =>
      val trace = s"epoch:${p.batchId}"
      val t0 = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val root = tr.add(0, trace, "epoch", t0, commitMs(p),
        Map("batch" -> p.batchId, "rows" -> rowsOf(p.batchId)))
      var cur = t0
      def child(name: String, key: String): Long = {
        val d = dur(p, key)
        val id = tr.add(root, trace, name, cur, cur + d)
        cur += d
        id
      }
      child("source.latestOffset", "latestOffset")
      child("commit.walCommit", "walCommit")
      child("source.getBatch", "getBatch")
      child("bus.queryPlanning", "queryPlanning")
      val add = child("bus.addBatch", "addBatch")
      child("commit.commit", "commit")
      byTrace.getOrElse(trace, Nil).foreach(_.parent = add)
    }
    tr.spans
  }

  final case class Delivered(idx: Int, payload: String, dest: String, batch: Long)

  private def readOutputs(spark: SparkSession, d: Dirs): Seq[Delivered] = {
    def read(p: Path): Seq[Row] =
      if (!Files.isDirectory(p)) Nil
      else spark.read.parquet(p.toString)
        .select(col("id"), decode(col("data"), "UTF-8"), col("dest").cast("string"),
          col("batch_id").cast("long"))
        .collect().toSeq
    (read(d.sink) ++ read(d.dead)).map { r =>
      Delivered(r.getString(0).stripPrefix("m").toInt, r.getString(1), r.getString(2), r.getLong(3))
    }
  }

  /** Every generated message (bus_route) or distinct payload (bus_dedup)
    * must be delivered exactly once, to the dest its payload names or to
    * the dead-letter output, and the bus counters must agree.
    * Returns (attempted, failed, problem descriptions). */
  def check(gen: MsgGen, got: Seq[Delivered], dedup: Boolean,
      stats: Map[String, Long]): (Long, Long, Seq[String]) = {
    val problems = mutable.ArrayBuffer[String]()
    def routeOf(p: String) = p.takeWhile(_ != ';')
    def placed(r: Delivered): Boolean = {
      val want = routeOf(gen.payloads(r.idx))
      r.payload == gen.payloads(r.idx) &&
        (if (want == "FAIL") r.dest == "dead" else r.dest == want)
    }
    val misrouted = got.count(r => r.idx < 0 || r.idx >= gen.count || !placed(r))
    val (lost, dup, expected) =
      if (!dedup) {
        val n = got.groupBy(_.idx).view.mapValues(_.size).toMap
        val lost = (0 until gen.count).count(i => !n.contains(i))
        (lost, n.values.map(c => c - 1).sum, gen.count.toLong)
      } else {
        val n = got.groupBy(_.payload).view.mapValues(_.size).toMap
        val distinct = gen.payloads.toSet
        (distinct.count(p => !n.contains(p)), n.values.map(c => c - 1).sum,
          distinct.size.toLong)
      }
    if (lost > 0) problems += s"$lost lost"
    if (dup > 0) problems += s"$dup duplicated"
    if (misrouted > 0) problems += s"$misrouted misrouted"
    val statsOk = stats("rcv") == expected && stats("ack") + stats("fail") == stats("rcv") &&
      stats("error") == 0
    if (!statsOk) problems += s"bus stats $stats disagree with $expected expected deliveries"
    val failed = lost + dup + misrouted + (if (statsOk) 0 else 1)
    (gen.count.toLong, failed.toLong, problems.toSeq)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
}
