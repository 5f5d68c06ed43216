package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the span that caused
  * it (0 = a root); `trace` groups the spans of one request (a query
  * execution, a bus epoch). Times are wall-clock milliseconds.
  */
final case class Span(id: Long, var parent: Long, trace: String, name: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
}

/** In-memory span store, written out once when the run ends. With `on`
  * false every call runs its body and records nothing, so the untraced run
  * pays no recording cost.
  */
final class Tracer(val on: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong()
  private val store = new ConcurrentLinkedQueue[Span]()

  /** Wall-clock ms with nanoTime resolution. */
  def now: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def add(parent: Long, trace: String, name: String, start: Double,
      end: Double, attrs: Map[String, Any] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    if (on) store.add(Span(id, parent, trace, name, start, end, attrs))
    id
  }

  /** Time `body` as a span; `body` receives the span id, so that jobs it
    * starts can name the span as their parent. */
  def span[T](parent: Long, trace: String, name: String,
      attrs: => Map[String, Any] = Map.empty)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = now
    try body(id)
    finally if (on) store.add(Span(id, parent, trace, name, t0, now, attrs))
  }

  def spans: Seq[Span] = store.asScala.toSeq.sortBy(_.start)
}

object Trace {
  /** Length of the union of intervals (a, b), each clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) total += b - math.max(a, end)
        end = math.max(end, b)
      }
    total
  }

  /** Self time of each span: its duration minus the union of its children's
    * intervals. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> math.max(0.0, s.ms - covered(iv, s.start, s.end))
    }.toMap
  }
}

/** Task-level counters of the jobs one span launched. */
final class ExecStats {
  var jobs = 0L
  var tasks = 0L
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var fetchWaitMs = 0.0
  var spillBytes = 0L
  var peakTaskMemBytes = 0L
  /** (launch, finish) wall-clock ms of every task, for idle-gap accounting. */
  val taskIntervals = mutable.ArrayBuffer[(Double, Double)]()

  /** Wall time inside [a, b] during which no task ran. */
  def idleMs(a: Double, b: Double): Double =
    math.max(0.0, (b - a) - Trace.covered(taskIntervals.toSeq, a, b))
}

/** Spark's public listener, keyed by a local property: every job launched
  * while the property is set on the launching thread is billed to that key.
  * Streaming epochs are keyed by the engine's own batch-id property.
  * Job spans are recorded as children of the span id in [[SpanKey]].
  */
final class JobListener(tr: Tracer) extends SparkListener {
  import JobListener._
  private val byKey = mutable.Map[String, ExecStats]()
  private val stageKey = mutable.Map[Int, String]()
  private val jobInfo = mutable.Map[Int, (String, Long, Double)]()

  private def keyOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty(SpanKey)).orElse(
        Option(p.getProperty(BatchIdKey)).map("epoch:" + _))
    }

  def stats(key: String): ExecStats = synchronized(byKey.getOrElseUpdate(key, new ExecStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      stats(k).jobs += 1
      e.stageIds.foreach(stageKey(_) = k)
      val parent = Option(e.properties.getProperty(SpanIdKey)).map(_.toLong).getOrElse(0L)
      jobInfo(e.jobId) = (k, parent, e.time.toDouble)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (k, parent, t0) =>
      tr.add(parent, k, "job", t0, e.time.toDouble, Map("job" -> e.jobId))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val s = stats(k)
      s.tasks += 1
      s.taskIntervals += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
      val m = e.taskMetrics
      if (m != null) {
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.peakTaskMemBytes = math.max(s.peakTaskMemBytes, m.peakExecutionMemory)
      }
    }
  }
}

object JobListener {
  /** Local property naming the key a job is billed to. */
  val SpanKey = "perfbench.key"
  /** Local property naming the span a job is a child of. */
  val SpanIdKey = "perfbench.span"
  /** Set by the streaming engine on the micro-batch thread. */
  val BatchIdKey = "streaming.sql.batchId"
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case s: Span => apply(Map("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end, "attrs" -> s.attrs))
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val n = pts.size.toDouble
      val mx = pts.map(_._1).sum / n
      val my = pts.map(_._2).sum / n
      val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (den == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }
}
