package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** Shared plumbing for the declared query inventory (SURVEY.md §2-B).
  *
  * Determinism conventions (SURVEY.md §7.4 — load-bearing for the
  * DuckDB-oracle hash gate):
  *   - every query ends in a total ORDER BY incl. a unique tiebreak;
  *   - null ordering is explicit on BOTH engines (Spark defaults
  *     NULLS FIRST for ASC, DuckDB defaults NULLS LAST — never rely on
  *     a default);
  *   - double metrics are cast to DECIMAL(18,4) *before* SUM/AVG so both
  *     engines do exact decimal arithmetic (summation order then cannot
  *     matter), and aggregate outputs are cast back to an explicit type;
  *   - derived averages/ratios are computed as exact-decimal (or exact
  *     integer) numerators divided as the LAST step — a single correctly
  *     rounded IEEE-754 division is bit-identical across engines;
  *   - computed integers (rank, counts from non-COUNT paths, lengths)
  *     are cast to an explicit width on both sides (Spark INT vs DuckDB
  *     BIGINT defaults differ).
  */
package object ops {

  /** One declared engine query: a Spark plan plus (when the semantics are
    * ANSI-SQL-expressible) the equivalent DuckDB oracle SQL. `oracle=None`
    * queries are covered by ScalaTest instead (driver records rows-only).
    */
  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String] = None)

  /** Parquet schema cache for [[tbl]]. Every bare
    * `spark.read.parquet(path)` pays path resolution + file listing +
    * FOOTER-READ SCHEMA INFERENCE — measured ~100-150 ms per call on the
    * bench box, and the 189-query inventory makes ~300 such calls against
    * ten immutable fixture paths. A catalog table would carry its schema in
    * the metastore; this cache is the bare-path equivalent: infer once per
    * (path, nanos-flag) per JVM, then pass the schema explicitly (measured
    * ~22 ms/call). Pure metadata — every query still lists and reads the
    * parquet data itself. Keyed by the nanosAsLong flag too because that
    * flag changes how a timestamp[ns] column is inferred (LongType vs
    * error), and sessions with different settings must not share entries.
    *
    * IMMUTABLE-FIXTURE ASSUMPTION: the cache never
    * invalidates. If a fixture path were rewritten with a DIFFERENT
    * schema inside one JVM, `read.schema(stale)` would not fail the way
    * re-inference would — it silently yields nulls/miscast columns. The
    * fixture dirs are generated once and read-only in every harness
    * (tests that synthesize data write to fresh temp dirs); a caller
    * pointing tbl() at mutable paths must restart the JVM or drop this
    * cache on schema change.
    */
  private val tblSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      org.apache.spark.sql.types.StructType]()

  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val nanosFlag =
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val schema = tblSchemaCache.computeIfAbsent((path, nanosFlag),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") df.withColumn("ts", eventsTsToTimestamp(df))
    else df
  }

  /** Normalize events.ts to TimestampType regardless of how the fixture
    * stores it — the driver fixture has shipped BOTH encodings over time:
    *   - parquet timestamp[ns]: Spark rejects ns unless read as a raw long
    *     (spark.sql.legacy.parquet.nanosAsLong=true, set in every session
    *     builder + build.sbt javaOptions) → exact integer ns→µs division
    *     (a double division would lose precision: ns epochs exceed 2^53);
    *   - parquet timestamp[us] without tz: reads as TIMESTAMP_NTZ → cast to
    *     TimestampType (UTC session ⇒ same instant, same parquet schema on
    *     the Verify dump as the long path, which the DuckDB oracle compare
    *     depends on).
    * Anything else (already TimestampType, or a future driver change) casts
    * through the same single branch; a non-castable type fails analysis
    * loudly rather than producing a silently-wrong column.
    */
  def eventsTsToTimestamp(df: DataFrame): Column = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampType => col("ts")
      case _ => col("ts").cast(TimestampType)
    }
  }

  /** SQL-string form of [[eventsTsToTimestamp]] for adapters that take a
    * tsExpr string (e.g. bus.TableReplaySource replaying the events table).
    */
  def eventsTsExprSql(spark: SparkSession, path: String): String =
    spark.read.parquet(path).schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "timestamp_micros(ts div 1000)"
      case _ => "cast(ts as timestamp)"
    }

  /** Exact-decimal view of a double metric column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Total-order a result whose subplan is expensive (join/agg/window/parse)
    * without computing it twice: a global orderBy range-partitions, and the
    * range partitioner's SAMPLING pass re-executes the whole child plan
    * before the real exchange runs (measured ~2× the subplan cost). A lazy
    * local checkpoint materializes the child once into the block manager on
    * the sampling pass; the sort then reads from cache.
    *
    * Scale note: this stores one copy of the PRE-SORT output (memory+disk,
    * spillable) — for the aggregated/filtered outputs it is applied to,
    * that is far smaller than the input. For full-table projections whose
    * sort key is a raw column, prefer sorting FIRST and projecting after
    * (zero storage — see q_json_extract); the checkpoint variant is for
    * computed sort keys / post-agg sorts, where sort-first is impossible.
    *
    * CORPUS-GRAIN outputs invert the tradeoff: when the pre-sort frame is
    * ~input-sized (session grain, SCD2 history), the materialized copy no
    * longer fits the block manager and the checkpoint becomes a full
    * disk write + read-back that costs MORE than recomputing the child
    * for the sampler (measured at sf100, clean method: q_scd2_history
    * 77.8 s checkpointed vs 31.9 s recomputed, q_session_window 73.2 vs
    * 43.7 — while at sf10, where the copy fits in memory, the checkpoint
    * still wins by ~15%; at the 100 TB design point the copy would be
    * TB-scale, so recompute wins by construction). Callers whose output
    * is corpus-grain pass corpusGrain = true to take the recompute shape.
    */
  def sortOnce(df: DataFrame, corpusGrain: Boolean = false)(keys: Column*): DataFrame =
    if (corpusGrain) df.orderBy(keys: _*)
    else sortOnceCheckpointed(df)(keys: _*)

  private def sortOnceCheckpointed(df: DataFrame)(keys: Column*): DataFrame =
    // The checkpoint truncates lineage to `Scan ExistingRDD`, which blinds
    // plan audits to everything beneath it; plan auditors (PlanAuditSpec,
    // tools.Explain) set this SESSION conf to audit the full pre-checkpoint
    // plan (semantics identical). A session conf, not a JVM property:
    // concurrent sessions in one JVM must not see each other's audit mode.
    if (df.sparkSession.conf.get("graft.sortOnce.nocheckpoint", "false") == "true")
      df.orderBy(keys: _*)
    else df.localCheckpoint(eager = false).orderBy(keys: _*)

  /** Canonical aggregate OUTPUT type: DOUBLE. Summation happens in exact
    * decimal (see dec) so order cannot matter; the single final
    * decimal→double cast is correctly rounded and bit-identical across
    * engines. DOUBLE (not DECIMAL) on the wire because every loader maps it
    * to the same float64, whereas decimal columns surface as
    * engine-dependent objects in the driver's compare.
    */
  def asDec(c: Column): Column = c.cast("double")
}
