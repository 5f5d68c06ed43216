package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. Runs one workload, checks the bus outputs,
  * and writes a result file (plus, when tracing, a span file) for
  * `perfbench/run.py`, which adds the batch oracle compare and prints the
  * final line.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cpus C
  *       --paced-rate R --tmp DIR --result FILE --trace-file FILE
  * The batch workload reads its seeded input from DIR/input.
  */
object Main {
  /** Session creations timed per run; set-up time takes their median. */
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val jvmToMain = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val tmp = Paths.get(a("tmp"))
    val res = workload match {
      case "bus_route" | "bus_dedup" =>
        runBus(workload == "bus_dedup", seed, seconds, traced, cpus,
          a("paced-rate").toInt, tmp, jvmToMain)
      case "batch_llm" => runBatch(seconds, traced, cpus, tmp, jvmToMain)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    res.e2e("peak_rss_mb") = peakRssMb
    Files.writeString(Paths.get(a("result")), Json(Map(
      "e2e" -> res.e2e, "layers" -> res.layers, "attempted" -> res.attempted,
      "failed" -> res.failed, "problems" -> res.problems, "extra" -> res.extra)))
    if (traced) Files.writeString(Paths.get(a("trace-file")), Json(res.trace))
  }

  final class Result {
    val e2e = mutable.LinkedHashMap[String, Double]()
    val layers = mutable.LinkedHashMap[String, Double]()
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer[String]()
    val extra = mutable.LinkedHashMap[String, Any]()
    val trace = mutable.LinkedHashMap[String, Any]()
  }

  def session(cpus: Int): SparkSession = {
    val s = graft.Graft.session(master = s"local[$cpus]", shufflePartitions = cpus,
      appName = "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Set-up: [[SetupRounds]] session creations (each but the last stopped
    * again), then `warm` on the live session. Returns the session and set-up
    * seconds: JVM start to main + median session creation + warm-up. */
  private def setUp(cpus: Int, jvmToMain: Double,
      warm: SparkSession => Unit): (SparkSession, Double, Map[String, Any]) = {
    var spark: SparkSession = null
    val sess = (0 until SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus)
      since(t0)
    }
    val t1 = System.nanoTime()
    warm(spark)
    val warmS = since(t1)
    val setup = jvmToMain + Stats.median(sess) + warmS
    (spark, setup, Map("jvm_to_main_s" -> jvmToMain, "session_s" -> sess, "warm_s" -> warmS))
  }

  private def runBus(dedup: Boolean, seed: Long, seconds: Int, traced: Boolean,
      cpus: Int, rate: Int, tmp: Path, jvmToMain: Double): Result = {
    val r = new Result
    // the bus warms up on the first epochs of its own backlog (see BusWorkload)
    val (spark0, setup, setupInfo) = setUp(cpus, jvmToMain, _ => ())
    var spark = spark0
    r.extra("setup") = setupInfo
    val paced = BusWorkload.PacedShare * seconds
    def add(o: BusOutcome): Unit = {
      r.attempted += o.attempted
      r.failed += o.failed
      r.problems ++= o.problems
    }
    if (!traced) {
      val o = BusWorkload.run(spark, tmp.resolve("run"), dedup, seed, paced, rate,
        new Tracer(false), None)
      add(o)
      r.e2e("setup_s") = setup + o.e2e("warm_s")
      o.e2e.foreach { case (k, v) => if (k != "lat_samples" && k != "warm_s") r.e2e(k) = v }
      r.extra("lat_samples") = o.e2e("lat_samples")
      r.extra("epochs") = o.epochs
    } else {
      // an untraced drain of the same backlog, then the traced run: the
      // overhead compares their drain rates (the second run is the warmer)
      val u = BusWorkload.run(spark, tmp.resolve("plain"), dedup, seed, 0, rate,
        new Tracer(false), None, drainOnly = true)
      val tr = new Tracer(true)
      val jl = new JobListener(tr)
      spark.sparkContext.addSparkListener(jl)
      val t = BusWorkload.run(spark, tmp.resolve("traced"), dedup, seed, paced, rate, tr, Some(jl))
      spark.sparkContext.removeSparkListener(jl)
      // single-thread baseline: the backlog drain of the bus without dedup
      spark.stop()
      spark = session(1)
      val b = BusWorkload.run(spark, tmp.resolve("single"), dedup = false, seed, 0, rate,
        new Tracer(false), None, drainOnly = true, warmEpochs = 2, drainEpochs = 3)
      Seq(u, t, b).foreach(add)
      r.layers ++= t.layers
      r.layers("trace.overhead_pct") = 100.0 * (u.e2e("msgs_per_s") / t.e2e("msgs_per_s") - 1.0)
      r.layers("baseline_1t.msgs_per_s") = b.e2e("msgs_per_s")
      r.trace("e2e_traced") = t.e2e
      r.trace("e2e_untraced_drain") = u.e2e
      r.trace("spans") = t.spans
      r.trace("self_ms") = Trace.selfTimes(t.spans).map { case (k, v) => k.toString -> v }
      r.trace("layers") = r.layers
    }
    spark.stop()
    r
  }

  private def runBatch(seconds: Int, traced: Boolean, cpus: Int,
      tmp: Path, jvmToMain: Double): Result = {
    val r = new Result
    val input = tmp.resolve("input").toString
    val dump = tmp.resolve("dump").toString
    var dumped: Map[String, Either[String, Long]] = Map.empty
    val (spark, setup, setupInfo) = setUp(cpus, jvmToMain, { s =>
      dumped = BatchWorkload.dumpPass(s, input, dump)
      (1 to BatchWorkload.WarmPasses).foreach(p => BatchWorkload.Keys.foreach(k =>
        BatchWorkload.runKey(s, input, k.name, -p, new Tracer(false))))
    })
    r.e2e("setup_s") = setup
    r.extra("setup") = setupInfo
    val plain = (new Tracer(false), Option.empty[JobListener])
    val tr = new Tracer(true)
    val jl = new JobListener(tr)
    val sides = if (traced) Seq(plain, (tr, Some(jl))) else Seq(plain)
    val execs = BatchWorkload.measure(spark, input, seconds, sides)
    spark.stop()

    val (untracedExecs, tracedExecs) = execs.partition(!_.traced)
    val e = BatchWorkload.e2e(untracedExecs)
    // every execution is checked: it must not throw and must return the
    // row count of the dumped output whose values the oracle compare checks
    dumped.foreach { case (k, Left(err)) => r.problems += s"$k dump failed: $err"; case _ => () }
    r.attempted = execs.size + dumped.size
    r.failed = dumped.count(_._2.isLeft) + execs.count { x =>
      val bad = x.error.isDefined || !dumped.get(x.key).contains(Right(x.rows))
      if (bad) r.problems += s"${x.key} pass ${x.pass}: " +
        x.error.getOrElse(s"${x.rows} rows, dump had ${dumped.get(x.key)}")
      bad
    }
    r.extra("key_s") = execs.groupBy(_.key).map { case (k, xs) => k -> xs.map(_.wallMs / 1000.0) }
    r.extra("pass_s") = execs.groupBy(_.pass).toSeq.sortBy(_._1)
      .map { case (_, xs) => xs.map(_.wallMs).sum / 1000.0 }
    r.extra("batch") = Map("dump" -> dump, "keys" -> BatchWorkload.Keys.map(_.name),
      "oracle" -> BatchWorkload.oracleSql)
    if (!traced) r.e2e ++= e
    else {
      val te = BatchWorkload.e2e(tracedExecs)
      r.layers ++= BatchWorkload.layers(tracedExecs, jl)
      r.layers("trace.overhead_pct") = 100.0 * (te("batch_s") / e("batch_s") - 1.0)
      r.trace("e2e_traced") = te
      r.trace("e2e_untraced") = e
      val spans = tr.spans
      r.trace("spans") = spans
      r.trace("self_ms") = Trace.selfTimes(spans).map { case (k, v) => k.toString -> v }
      r.trace("top_ops") = tracedExecs.groupBy(_.key).map { case (k, xs) =>
        k -> xs.maxBy(_.pass).topOps.map { case (n, ms) => Map("op" -> n, "ms" -> ms) } }
      r.trace("layers") = r.layers
    }
    r
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
