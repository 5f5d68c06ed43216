package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query profiler: times named declared queries over several
  * iterations (first iteration reported separately as cold), so plan cost
  * is separable from session/JIT warm-up, and counts the structure of the
  * LAST iteration by listener: jobs, stages, tasks, shuffle bytes/records
  * written, input records, disk spill and peak per-task execution memory.
  * On a noisy box the counts are stable while seconds are not, and a
  * removed exchange/job shows up in them regardless of contention.
  * Complements Bench (one cold pass over everything) when hunting a hot
  * spot.
  *
  * Run: tools/runmain.sh graft.tools.Profile <sfDir> <iters> <query ...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle-partition sizing is per-SF, not per-core: at sf100 (600 M
    // lineitem) 32 partitions put ~19 M rows per sort-merge-join task and
    // the UnsafeExternalSorter exhausts execution memory;
    // 256 keeps per-task state bounded while AQE coalesces the excess on
    // small inputs. Default stays the driver-contract 32; override with
    // SPARK_GRAFT_SHUFFLE at sf ≥ 100 (the same dial a real cluster sets
    // from input bytes / target partition size).
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = graft.Graft.session(master = s"local[$cpus]",
      shufflePartitions = shuffle.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // Input-split sizing is the scan-side twin of the shuffle dial: a
    // single-directory fixture at sf100 can yield fewer 128 MB splits
    // than cores, so explode-heavy scan stages (53 span rows per doc row)
    // run underparallelized with multi-M-row per-task partial-agg state.
    // SPARK_GRAFT_MAXPART (e.g. "32m") = files.maxPartitionBytes.
    sys.env.get("SPARK_GRAFT_MAXPART")
      .foreach(spark.conf.set("spark.sql.files.maxPartitionBytes", _))
    // A/B dial for the ObjectHashAggregate fallback threshold (see
    // Graft.scala — the session default is Spark's 128 safety valve;
    // the kNN fold carries its own scoped raise). SPARK_GRAFT_FALLBACK
    // overrides the SESSION value to measure a key under an alternative
    // threshold without a code edit; note it cannot override the kNN
    // fold's scoped clone.
    sys.env.get("SPARK_GRAFT_FALLBACK").foreach(spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", _))
    // A/B dial for the sortOnce tradeoff (see ops/package.scala): with
    // SPARK_GRAFT_NOCHECKPOINT=true the final sort's range sampler
    // re-executes the child plan instead of reading a materialized copy —
    // lets the profiler measure both shapes of a key without a code edit.
    if (sys.env.get("SPARK_GRAFT_NOCHECKPOINT").contains("true"))
      spark.conf.set("graft.sortOnce.nocheckpoint", "true")
    val jobs = new AtomicLong(0); val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0); val shufW = new AtomicLong(0)
    val shufRecs = new AtomicLong(0); val inRecs = new AtomicLong(0)
    val spill = new AtomicLong(0); val peak = new AtomicLong(0)
    val counters = Seq(jobs, stages, tasks, shufW, shufRecs, inRecs, spill, peak)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          inRecs.addAndGet(m.inputMetrics.recordsRead)
          spill.addAndGet(m.diskBytesSpilled)
          peak.getAndAccumulate(m.peakExecutionMemory, math.max)
        }
      }
    })
    def mb(a: AtomicLong): Double = a.get / 1048576.0
    names.foreach { n =>
      val times = (0 until iters).map { _ =>
        // Count this iteration only: waitUntilEmpty delivers every queued
        // event of the previous one before the reset.
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        counters.foreach(_.set(0))
        // Scope the post-iteration cleanup to blocks THIS iteration
        // creates: snapshot the pre-existing persistent RDD ids first.
        val preexisting = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        org.apache.spark.sql.GraftBridge.runExactPlan(graft.SparkEntry.queries(n)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        // Each iteration builds a FRESH plan, so the previous iteration's
        // lazy localCheckpoint blocks (sortOnce, multi-consumer frames)
        // are pure garbage to the next one — but they are only freed when
        // GC runs the ContextCleaner, so at large SF they sit in the block
        // manager and the "warm" iterations measure eviction pressure, not
        // the query (sf100 q_heavy_hitters: warm 132 s vs cold 49 s).
        // Production runs a plan once per job; drop the blocks eagerly so
        // warm times measure steady state.
        spark.sparkContext.getPersistentRDDs
          .collect { case (id, rdd) if !preexisting.contains(id) => rdd }
          .foreach(_.unpersist(blocking = true))
        // ALSO drop Dataset-cache entries: an operator's persist() leaves a
        // CacheManager entry that the NEXT iteration's identical subtree
        // would hit (and recompute through the surviving shuffle files),
        // silently zeroing the counted iteration's shuffle writes.
        spark.sharedState.cacheManager.clearCache()
        // Shuffle files are freed by the ContextCleaner only when the
        // previous iteration's ShuffleDependency objects are GC'd — at
        // low driver heap pressure they survive iterations and tens of
        // GB of dead shuffle data stay on disk, so later "warm" runs
        // measure a fuller disk, not the query (sf100 q_substring_dedup:
        // 96.7 → 118.7 s ACROSS iterations before this). Nudge GC so the
        // cleaner reclaims them between iterations.
        System.gc()
        dt
      }
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      println(f"$n%-24s cold=${times.head}%7.3f warm_min=${times.tail.minOption.getOrElse(Double.NaN)}%7.3f  all=${times.map(t => f"$t%.2f").mkString(",")}" +
        f"  jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} shuf_mb=${mb(shufW)}%.2f shuf_rec=${shufRecs.get} in_rec=${inRecs.get} spill_mb=${mb(spill)}%.2f peak_task_mb=${mb(peak)}%.0f")
    }
    spark.stop()
  }
}
