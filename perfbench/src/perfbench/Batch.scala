package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One timed query execution. Times in ms; `start`/`end` wall-clock ms. */
final case class Exec(key: String, pass: Int, traced: Boolean, start: Double,
    end: Double, opsMs: Double, planMs: Double, execMs: Double, rows: Long,
    error: Option[String], topOps: Seq[(String, Double)]) {
  def wallMs: Double = end - start
}

/** Heaviest physical operators of an executed plan, by SQL-metric time. */
object PlanOps extends AdaptiveSparkPlanHelper {
  def top(plan: SparkPlan, n: Int = 3): Seq[(String, Double)] =
    collectWithSubqueries(plan) { case p: SparkPlan =>
      p.nodeName -> p.metrics.values.toSeq.map { m =>
        m.metricType match {
          case "timing" => m.value.toDouble
          case "nsTiming" => m.value / 1e6
          case _ => 0.0
        }
      }.sum
    }.filter(_._2 > 0).sortBy(-_._2).take(n)
}

/** `batch_llm`: one closed-loop client runs a fixed key list through the
  * public entry points — `SparkEntry.queries(k)` (the ops builders, which for
  * iterative keys run their driver loop), `queryExecution.executedPlan`
  * (planning) and `GraftBridge.runExactPlan` (execution) — one query after
  * another, pass after pass.
  */
object BatchWorkload {
  final case class Key(name: String, module: String, iterative: Boolean)

  val Keys: Seq[Key] = Seq(
    Key("q_kmeans_update", "Similarity", iterative = true),
    Key("q_minhash_neardup", "Dedup", iterative = false),
    Key("q_tfidf", "TextOps", iterative = false),
    Key("q_media_features_topk", "Multimodal", iterative = false),
    Key("q_pipeline_full", "Pipeline", iterative = false))

  /** Untimed passes after the dump pass: the JIT keeps speeding the keys up
    * for several passes, and timing them would measure that. */
  val WarmPasses = 1

  val Modules: Seq[String] = Seq("Dedup", "Similarity", "TextOps", "Multimodal", "Pipeline")

  private def queries = graft.SparkEntry.queries

  /** Drop persistent blocks a query left behind, outside any timed window,
    * so later keys do not run under the earlier keys' block-manager load. */
  private def releaseSince(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !before.contains(id) => rdd }
      .foreach(_.unpersist(blocking = true))

  /** Warm-up pass that also writes each key's full output (one file per key)
    * for the value compare done after the run. Returns rows or the error. */
  def dumpPass(spark: SparkSession, dir: String, out: String): Map[String, Either[String, Long]] =
    Keys.map { k =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val r = try {
        queries(k.name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/${k.name}")
        Right(spark.read.parquet(s"$out/${k.name}").count())
      } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }
      releaseSince(spark, before)
      k.name -> r
    }.toMap

  /** One execution of `key`, spans: query → ops / plan / exec (+ job spans
    * from the listener). */
  def runKey(spark: SparkSession, dir: String, key: String, pass: Int, tr: Tracer): Exec = {
    val sc = spark.sparkContext
    val trace = s"$key#$pass"
    val before = sc.getPersistentRDDs.keySet.toSet
    sc.setLocalProperty(JobListener.SpanKey, trace)
    var ops, plan, exe = 0.0
    var rows = -1L
    var err: Option[String] = None
    var top: Seq[(String, Double)] = Nil
    val t0 = tr.now
    try tr.span(0, trace, "query", Map("key" -> key, "pass" -> pass)) { q =>
      def timed[T](name: String)(body: => T): (T, Double) = {
        val a = tr.now
        val v = tr.span(q, trace, name) { id =>
          sc.setLocalProperty(JobListener.SpanIdKey, id.toString)
          body
        }
        (v, tr.now - a)
      }
      val (df, o) = timed("ops")(queries(key)(spark, dir)); ops = o
      val (_, p) = timed("plan")(df.queryExecution.executedPlan); plan = p
      val (n, x) = timed("exec")(GraftBridge.runExactPlan(df)); exe = x
      rows = n
      if (tr.on) top = PlanOps.top(df.queryExecution.executedPlan)
    } catch { case e: Throwable => err = Some(String.valueOf(e.getMessage).take(300)) }
    finally {
      sc.setLocalProperty(JobListener.SpanKey, null)
      sc.setLocalProperty(JobListener.SpanIdKey, null)
    }
    val t1 = tr.now
    releaseSince(spark, before)
    Exec(key, pass, tr.on, t0, t1, ops, plan, exe, rows, err, top)
  }

  /** Passes over the key list while another pass fits in `seconds` of wall
    * time per side, and at least two per side. With two sides (traced run)
    * the passes alternate untraced / traced, so the tracing overhead is
    * measured on interleaved passes of the same process. */
  def measure(spark: SparkSession, dir: String, seconds: Int,
      sides: Seq[(Tracer, Option[JobListener])]): Seq[Exec] = {
    val sc = spark.sparkContext
    val out = mutable.ArrayBuffer[Exec]()
    val t0 = System.nanoTime()
    var pass = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    def enough = pass >= 2 * sides.size && elapsed + last > seconds * sides.size
    while (!enough) {
      // collect before each pass, outside the timed executions, so the
      // context cleaner drops earlier passes' shuffles and broadcasts
      System.gc()
      val p0 = elapsed
      val (tr, jl) = sides(pass % sides.size)
      jl.foreach(sc.addSparkListener)
      Keys.foreach(k => out += runKey(spark, dir, k.name, pass, tr))
      jl.foreach { l => GraftBridge.drainListenerBus(spark); sc.removeSparkListener(l) }
      last = elapsed - p0
      pass += 1
    }
    out.toSeq
  }

  /** End-to-end values from untraced executions, all from each key's median
    * wall time: a pass has five executions, so a percentile over the raw
    * executions would be one unlucky execution. */
  def e2e(execs: Seq[Exec]): Map[String, Double] = {
    val perKey = execs.filter(_.error.isEmpty).groupBy(_.key).values
      .map(xs => Stats.median(xs.map(_.wallMs))).toSeq
    val passS = perKey.sum / 1000.0
    Map(
      "batch_s" -> passS,
      "msgs_per_s" -> perKey.size / passS,
      "lat_p50_ms" -> Stats.pct(perKey, 50),
      "lat_p99_ms" -> Stats.pct(perKey, 99))
  }

  /** Per-key and per-module layer values from traced executions. */
  def layers(execs: Seq[Exec], jl: JobListener): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val byKey = execs.groupBy(_.key)
    def med(key: String)(f: Exec => Double): Double =
      Stats.median(byKey.getOrElse(key, Nil).map(f))
    def ex(e: Exec): ExecStats = jl.stats(s"${e.key}#${e.pass}")
    Keys.foreach(k => out(s"${k.name}.wall_s") = med(k.name)(_.wallMs) / 1000.0)
    Modules.foreach { m =>
      val ks = Keys.filter(_.module == m).map(_.name)
      def sum(f: Exec => Double): Double = ks.map(k => med(k)(f)).sum
      out(s"ops.$m.build_ms") = sum(_.opsMs)
      out(s"ops.$m.plan_ms") = sum(_.planMs)
      out(s"ops.$m.jobs") = sum(ex(_).jobs.toDouble)
      out(s"ops.$m.tasks") = sum(ex(_).tasks.toDouble)
      out(s"ops.$m.driver_gap_ms") = sum(e => ex(e).idleMs(e.start, e.end))
      out(s"ops.$m.cpu_ms") = sum(ex(_).cpuMs)
      out(s"ops.$m.gc_ms") = sum(ex(_).gcMs)
      out(s"ops.$m.shuffle_bytes") = sum(ex(_).shuffleWriteBytes.toDouble)
      out(s"ops.$m.shuffle_records") = sum(ex(_).shuffleWriteRecords.toDouble)
      out(s"ops.$m.fetch_wait_ms") = sum(ex(_).fetchWaitMs)
      out(s"ops.$m.spill_bytes") = sum(ex(_).spillBytes.toDouble)
      out(s"ops.$m.peak_task_mem_mb") =
        ks.map(k => med(k)(ex(_).peakTaskMemBytes / 1048576.0)).maxOption.getOrElse(0.0)
    }
    out.toMap
  }

  def oracleSql: Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (k, _) => Keys.exists(_.name == k) }
}
