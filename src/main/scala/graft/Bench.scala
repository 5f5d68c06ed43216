package graft
import java.nio.file.{Files, Path, Paths}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warm-up: a fresh JVM runs ~2-5× slower until codegen + JIT
    // compile the hot paths. Warm one query per major codegen shape (scan/
    // sort, hash agg, expand+distinct agg, window, broadcast join,
    // conditional projection, generator, JSON parse) so the timed pass
    // measures plan cost, not first-query compilation — the first entry
    // otherwise absorbs several seconds of uniform session warm-up (and
    // when added keys move a query to the front, it shows a "regression"
    // that is only residual JIT; its warm_min plan cost stays flat).
    // …plus the custom-expression and iterative-join shapes the generic
    // warm-up misses: LshSignatures codegen (q_sim_cosine_lsh),
    // the md5-slice shingle fingerprint (q_doc_fingerprint), and the looped
    // join+agg+checkpoint shape (q_embed_clusters) — without these,
    // q_embed_clusters bills ~12 s cold vs ~4 s warm plan cost and
    // distorts the round-over-round signal by ~8 s.
    // …and q_media_decode: the media fixture materializes ONCE per scale
    // factor (a ~3.5 s one-time synthesis at sf0.1 on a cold cache) —
    // warming it here keeps that one-time cost out of the timed pass.
    // …and q_kmeans_assign: the packed-quantization + zip_with-fold
    // codegen shape shared with q_sim_quantized_topk — neither was in the
    // warm list, so whichever ran first absorbed that shape's JIT.
    // …and q_kmeans_update: supersets the assign shapes and
    // adds the posexplode → combine → sort_array(collect_list) rebuild
    // (measured ~7 s of first-run JIT at sf0.1 against ~1 s warm plan
    // cost — by far the largest cold/warm gap in the inventory).
    // …and q_bpe_train: the 10-round merge loop's aggregate()-fold
    // codegen compiles fresh per round shape — ~9 s cold vs ~1.8 s warm
    // plan cost at sf0.1 (PROFILE_r15), the q_kmeans_update situation.
    Seq("q_sort_limit", "q_agg_group", "q_agg_distinct", "q_window_rank",
        "q_broadcast_join", "q_case_null", "q_explode_tokens",
        "q_json_extract", "q_sim_cosine_lsh", "q_doc_fingerprint",
        "q_embed_clusters", "q_media_decode", "q_kmeans_assign",
        "q_kmeans_update", "q_bpe_train").foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try { org.apache.spark.sql.GraftBridge.runExactPlan(fn(spark, sfDir)) }
        catch { case _: Throwable => () }
      }
    }
    // Sorted key order: STABLE across rounds (a Map's iteration order
    // reshuffles as keys are added, which moves where residual warm-up
    // cost lands and makes per-query numbers incomparable round-to-round).
    // Per-query success flag: a throwing query billed as a fast "success"
    // would make the JSON look like a fully-passing bench on a tree where
    // part of the inventory cannot execute. A failed query lands in
    // `"failed":[...]`, is excluded from the total, and forces a nonzero
    // exit code.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Snapshot pre-existing persistent RDD ids so the post-query cleanup
      // below drops ONLY blocks this query created — a blanket unpersist
      // would silently evict any future cross-query cached frame.
      val preexisting = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      // Evaluate the FULL physical plan: toRdd.count() materializes every
      // output column (a DataFrame count() would let Catalyst prune the
      // projections away and flatter projection-heavy queries).
      val ok =
        try { org.apache.spark.sql.GraftBridge.runExactPlan(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop the finished query's lazy localCheckpoint blocks (sortOnce,
      // multi-consumer frames) OUTSIDE its timed window: they are garbage
      // to every later query but are only freed when GC happens to run the
      // ContextCleaner, so without this the tail of the inventory runs
      // under block-manager eviction pressure from the head (measured as
      // warm>cold inversions at sf100 in tools.Profile).
      spark.sparkContext.getPersistentRDDs
        .collect { case (id, rdd) if !preexisting.contains(id) => rdd }
        .foreach(_.unpersist(blocking = true))
      (name, dt, ok)
    }
    // 3-decimal seconds via Locale.ROOT: ms precision is below box noise,
    // and a locale-default format would emit comma decimals (invalid JSON)
    // on e.g. a de_DE JVM.
    def secs3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Only SUCCESSFUL queries contribute timings — a failure's wall time is
    // analysis-error latency, not plan cost, and must not pollute the
    // round-over-round per-query comparison.
    val qs = results.collect { case (k, v, true) => "\"" + k + "\":" + secs3(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
    val total = results.collect { case (_, v, true) => v }.sum
    // Stop Spark BEFORE printing so no executor/shutdown log line can land
    // after the JSON — but never let a failing stop() eat the output.
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop() catch { case _: Throwable => () }
    // Full per-query map on its OWN line (~2.4 KB for 93 queries — bigger
    // than the driver's 2,000-byte log-tail window, so it must not be last).
    println(s"""{"metric":"per_query","unit":"sec","queries":$qs,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}""")
    // ALSO persist the per-query map as its own artifact: at 188 keys the
    // stdout line is ~4.5 KB and a log-tail capture keeps only its end,
    // blinding per-query diffs to the first ~111 keys. One key per line so
    // plain git diff shows movers; written to the working directory (the
    // repo root under `sbt runMain`) so it lands in the commit.
    try {
      val lines = results.sortBy(_._1).map { case (k, v, ok) =>
        s"""  "$k": ${if (ok) secs3(v) else "\"FAILED\""}"""
      }
      val body =
        lines.mkString(s"""{\n  "_sf": "$sfDir",\n  "_cpus": "$cpus",\n""", ",\n", "\n}\n")
      writePerQuery(Paths.get("."), body, cpus.toInt)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] per-query artifact write failed: $e")
    }
    // LAST line: compact total-only JSON, guaranteed to fit the tail window.
    println(s"""{"metric":"total","value":${secs3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"sf":"$sfDir"}""")
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Write one run's per-query map into `dir`: always as
    * `BENCH_PERQUERY_c$cpus.json`, and under the legacy name
    * `BENCH_PERQUERY.json` only if [[replacesLegacy]] lets this run
    * replace what is there. The bench runs on several core counts (a
    * 32-core primary run, an 8-core scaling run), and the legacy file must
    * hold the primary map whichever run comes last.
    */
  def writePerQuery(dir: Path, body: String, cpus: Int): Unit = {
    Files.writeString(dir.resolve(s"BENCH_PERQUERY_c$cpus.json"), body)
    val legacy = dir.resolve("BENCH_PERQUERY.json")
    val existing = if (Files.exists(legacy)) Some(Files.readString(legacy)) else None
    if (replacesLegacy(existing, cpus)) Files.writeString(legacy, body)
  }

  /** A run on `cpus` cores may (re)write the legacy per-query file when it
    * is absent, carries no `_cpus`, or holds a run on at most `cpus` cores.
    */
  def replacesLegacy(existing: Option[String], cpus: Int): Boolean =
    existing.flatMap(""""_cpus":\s*"(\d+)"""".r.findFirstMatchIn(_))
      .forall(_.group(1).toInt <= cpus)
}
