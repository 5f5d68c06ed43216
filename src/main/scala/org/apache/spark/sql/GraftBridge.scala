package org.apache.spark.sql

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface needed to expose custom
  * Catalyst expressions as Columns in Spark 4.x (where Column wraps a
  * ColumnNode, not an Expression). Lives in the sql package by necessity;
  * the engine's own code stays in graft.*.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN values` as ONE `InSet` node: a driver-held set of any size
    * becomes a hash-set probe in the filter, with no join and no broadcast
    * job (`isin` would build one `Literal` child per value).
    */
  def inSet(c: Column, values: Set[Any]): Column = column(InSet(expression(c), values))

  /** The session's `spark.sql.adaptive.advisoryPartitionSizeInBytes`, its
    * fallback resolved: the partition size AQE coalesces an exchange's
    * output to.
    */
  def advisoryPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .getConf(internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** `rows` as a driver-held frame with `schema`'s columns: one
    * `LocalRelation`. Catalyst folds filters and projections over it back
    * into a `LocalRelation` (`ConvertToLocalRelation`), so frames built on
    * it stay driver-held and their actions start no Spark job.
    */
  def localFrame(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s rows when its optimized plan is a `LocalRelation` (a frame the
    * driver already holds, such as one built on [[localFrame]]); None
    * when evaluating it takes a Spark job.
    */
  def driverRows(df: Dataset[_]): Option[Seq[catalyst.InternalRow]] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan match {
      case r: catalyst.plans.logical.LocalRelation => Some(r.data)
      case _ => None
    }

  /** What a Spark parquet write of `schema` under `spark`'s confs gives
    * each of its tasks: the session's Hadoop conf as
    * `ParquetUtils.prepareWrite` fills it (write support, schema, output
    * timestamp type, legacy format, field ids, compression codec, summary
    * level), and a `ParquetWriteSupport` built under the session's SQL
    * conf, which it reads its datetime and INT96 rebase modes from. A file
    * written with the two carries the schema, encodings and
    * `org.apache.spark.sql.parquet.row.metadata` footer of a Spark write.
    */
  def parquetWrite(spark: SparkSession, schema: types.StructType)
      : (org.apache.hadoop.conf.Configuration,
         org.apache.parquet.hadoop.api.WriteSupport[catalyst.InternalRow]) = {
    import execution.datasources.parquet.{ParquetOptions, ParquetUtils, ParquetWriteSupport}
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val job = org.apache.hadoop.mapreduce.Job.getInstance(state.newHadoopConf())
    ParquetUtils.prepareWrite(state.conf, job, schema,
      new ParquetOptions(Map.empty[String, String], state.conf))
    (job.getConfiguration,
      internal.SQLConf.withExistingConf(state.conf)(new ParquetWriteSupport))
  }

  /** Run `body` on `pool` under the calling thread's Spark local properties
    * (job group, `streaming.sql.batchId`, SQL execution id) and active
    * session, as if the calling thread had run it: its jobs are cancelled
    * with the caller's job group and billed to the caller's batch.
    */
  def submitCaptured[T](pool: ExecutorService)(body: => T): CompletableFuture[T] =
    execution.SQLExecution.withThreadLocalCaptured(
      SparkSession.active.asInstanceOf[classic.SparkSession], pool)(body)

  /** Clone `spark` (shared context/catalog, copied session state) and set
    * `key`=`value` on the clone only. This is the per-QUERY conf scoping
    * primitive: a Dataset re-homed onto the clone plans and executes under
    * the overridden conf while the parent session keeps its default —
    * `SQLExecution` propagates the conf of the Dataset's OWN session at
    * action time, so the override travels with the returned frame and
    * never leaks into sibling queries.
    *
    * One clone is cached per (parent, key, value) for the life of the
    * SparkContext, so equal arguments return the same clone. Entries are
    * not collectable: the clone strongly references its parent through
    * shared session state, and each `cloneSession()` registers
    * session-state listeners on the shared context bus that are never torn
    * down — cloning per call would accumulate sessions and listeners in a
    * long-lived process that rebuilds plans repeatedly. Runtime conf
    * changes made on the PARENT after the clone exists deliberately do not
    * propagate (the same isolation the scoping exists for).
    */
  def sessionWithConf(spark: SparkSession, key: String, value: String): SparkSession =
    confClones.computeIfAbsent((spark, key, value), _ => {
      val c = spark.asInstanceOf[classic.SparkSession].cloneSession()
      c.conf.set(key, value)
      c
    })

  private val confClones = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), SparkSession]()

  /** Re-home `df`'s logical plan onto `session` (see [[sessionWithConf]]). */
  def rehome(session: SparkSession, df: Dataset[Row]): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)

  /** Execute `df`'s EXACT physical plan (no extra count aggregate, no
    * row decoding) the way a real Dataset action does: with the frame's
    * OWN session active and its conf propagated through SQLExecution.
    * A bare `df.queryExecution.toRdd.count()` — the natural way to drive
    * a plan in a profiler — skips that wrapper, so planning reads the
    * conf of whatever session is ambiently active on the thread and a
    * [[sessionWithConf]]-scoped override never engages. Profiler/bench
    * mains drive plans through this so they measure what `count()` /
    * `collect()` / `write` would run.
    */
  def runExactPlan(df: Dataset[Row]): Long = {
    val qe = df.queryExecution
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(df.sparkSession)
    // Restore the EXACT prior thread state: when no session was active
    // before the call, clear rather than leave the frame's (possibly
    // conf-scoped clone) session ambiently active — later planning on
    // this thread would otherwise silently run under the scoped conf.
    try execution.SQLExecution.withNewExecutionId(qe, None) {
      qe.toRdd.count()
    } finally prev match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None    => SparkSession.clearActiveSession()
    }
  }

  /** `df.localCheckpoint(eager = false)` without the SQL execution that
    * `Dataset.localCheckpoint` wraps around planning it: the same RDD
    * (`executedPlan.execute()`, rows copied, marked for local checkpoint)
    * under the same `LogicalRDD`; its blocks fill on the first job that
    * reads the returned frame.
    */
  def lazyLocalCheckpoint(df: Dataset[Row]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
    rdd.localCheckpoint()
    classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  /** RDD ids a (materialized) localCheckpoint pinned into the block
    * manager for `df` — read from the Dataset's OWN plan (the LogicalRDD
    * nodes a checkpoint leaves behind), so a caller that frees blocks
    * later can free EXACTLY this frame's blocks. The global
    * `getPersistentRDDs`-diff alternative races with concurrent streams:
    * any other query persisting inside the diff window gets its RDD
    * captured and unpersisted by a stranger — and a localCheckpointed RDD
    * has truncated lineage, so dropping its blocks CRASHES the victim's
    * later access rather than recomputing.
    */
  def checkpointedRddIds(df: Dataset[Row]): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case r: execution.LogicalRDD => r.rdd.id
    }

  /** Deterministically drain the async listener bus — the replacement for
    * sleep-and-hope when reading task metrics accumulated by a listener
    * right after a job completes (the last tasks' events may still be in
    * flight on the AsyncEventQueue when the action returns).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
