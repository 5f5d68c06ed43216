package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** One-call entry point for users of this engine: a SparkSession with the
  * engine's required/recommended configuration applied and the native SQL
  * functions registered — the "switch your app to this library" surface.
  * Every main, tool, example and the test JVM builds its session here.
  *
  * Recommended at any scale: shuffle partitions sized to the cluster (NOT
  * the 200 default — pass ~2-3× total executor cores; AQE coalesces
  * downward at runtime).
  *
  * The ObjectHashAggregate sort-based fallback threshold stays at Spark's
  * 128 default session-wide — that low default is the memory safety valve
  * for every unbounded object aggregate (collect_list/collect_set and any
  * user-added typed agg). A raised 2^21 threshold was measured to OOM a
  * 15 M-group small-k aggregate (q_topk_agg on a boxed-tuple buffer,
  * ~0.5 KB per group × 32 concurrent tasks) at sf100 inside the standard
  * 8 GB heap —
  * the per-group buffer bound alone does not cap memory; group count per
  * task does, and that is data-dependent. The engine's bounded typed
  * aggregates that genuinely need the hash path at high group counts (the
  * BottomKPairs kNN fold — a sort-based demotion re-introduces exactly the
  * per-partition n log n the aggregate exists to avoid) get the raise PER
  * QUERY via [[boundedAggFrame]]: the frame is re-homed onto a cloned
  * session whose only delta is the threshold, so the override travels with
  * that frame's executions and never governs sibling queries.
  */
object Graft {

  /** The engine confs every session carries, stated once:
    *   - UTC session timezone (cross-engine timestamp determinism);
    *   - nanosAsLong for parquet timestamp[ns] columns (see graft.ops.tbl);
    *   - AQE may re-optimize CACHED plans while keeping their output
    *     partitioning visible: the iterative operators (connected
    *     components, PageRank) persist their edge frames pre-partitioned
    *     on the per-round join key so rounds stop re-shuffling the edge
    *     set; without this flag the cached subplan skips AQE partition
    *     coalescing and pins shuffle-partition-count tasks onto every
    *     downstream stage at small scale. Physical-only: results identical;
    *   - the `file:` filesystem, for `FileSystem` and for `FileContext`, is
    *     [[graft.io.ForkFreeLocalFileSystem]] / [[graft.io.ForkFreeLocalFs]].
    *     Without `libhadoop`, Hadoop's own local filesystem forks `chmod`
    *     for every file and directory it creates and `readlink` for every
    *     link-status lookup, which `FileContext.rename` makes on both its
    *     paths: a bus epoch with a checkpoint dir and parquet sinks started
    *     up to 54 child processes (~6 ms each) in its sink writes and
    *     checkpoint-log commits.
    *
    * Keys outside `spark.` are Hadoop keys: [[session]] sets them with the
    * `spark.hadoop.` prefix (into the context's Hadoop conf), and
    * [[configure]] sets them as they are, because the session's Hadoop conf
    * (`newHadoopConf`) copies session conf keys verbatim.
    */
  val EngineConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "fs.file.impl" -> classOf[graft.io.ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[graft.io.ForkFreeLocalFs].getName)

  def session(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val base = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", false)
    val spark = EngineConf
      .foldLeft(base) { case (b, (k, v)) =>
        b.config(if (k.startsWith("spark.")) k else s"spark.hadoop.$k", v) }
      .getOrCreate()
    graft.expr.GraftExtensions.register(spark)
    spark
  }

  /** Sizing of the scoped threshold: 2^18 groups/task × ~164 B per
    * BottomKPairs buffer (4 + 16·k bytes at the kNN k=10 ceiling) ≈ 43 MB
    * per task, ~1.4 GB across 32 concurrent local tasks — bounded against
    * the 8 GB ledger heap. Measured (PROFILE_r19): at sf10 the 2^18 value
    * is FASTER than the old global 2^21 (46.4 s vs 51.7 s warm q_knn_graph
    * — smaller hash maps, same no-fallback behavior) and 28% faster than
    * the 128 default's sort demotion; kNN per-task group counts stay well
    * under 2^18 at sf100 because the occupancy cap bounds collisions per
    * bucket and shuffle partitions scale with input.
    */
  val BoundedAggFallbackThreshold = 262144

  /** Re-home `df` onto a session clone whose ObjectHashAggregate fallback
    * threshold is raised to [[BoundedAggFallbackThreshold]] — the scoped
    * form of the conf for SMALL-BOUNDED-buffer typed aggregates over
    * high-cardinality groups (the kNN BottomKPairs fold). The clone is
    * the one [[GraftBridge.sessionWithConf]] caches for this parent.
    */
  def boundedAggFrame(df: DataFrame): DataFrame =
    GraftBridge.rehome(
      GraftBridge.sessionWithConf(df.sparkSession,
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        BoundedAggFallbackThreshold.toString),
      df)

  /** Register the fixture tables of `dir` as temp views so plain
    * `spark.sql` works over them (events gets the ns→µs timestamp
    * normalization from graft.ops.tbl).
    */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(n => graft.ops.tbl(spark, dir, n).createOrReplaceTempView(n))

  /** Apply the engine configuration to an EXISTING session (a shared
    * cluster session the caller does not own): [[EngineConf]] + function
    * registration. The parquet-nanos flag is read at scan planning, so it
    * applies to subsequent reads. The `file:` binding reaches `FileContext`
    * at once; a `FileSystem` the JVM already cached for `file:` stays in
    * use for `FileSystem.get` (Hadoop caches it per scheme, not per conf).
    */
  def configure(spark: SparkSession): SparkSession = {
    EngineConf.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.expr.GraftExtensions.register(spark)
    spark
  }
}
