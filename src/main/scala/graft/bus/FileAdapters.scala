package graft.bus

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-backed source/sink pair: a directory of parquet files as the
  * message stream (new files are new messages — Spark's file source tracks
  * processed files in the checkpoint, the analog of the unacked map), and a
  * partitioned parquet sink routed by destination.
  *
  * This is the offline-friendly persistent binding of the Source/Sink
  * traits; the Kafka/Kinesis bindings (KafkaAdapters) share the same
  * contract.
  */
object FileAdapters {

  val msgSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("data", BinaryType),
    StructField("ts", TimestampType)))

  /** dest is interpolated into filesystem paths at BOTH ends of the
    * store-backed chain: reject anything that could escape the spool
    * ('/', '..'), corrupt the dest=<v>/ partition layout ('=', '%',
    * space, NUL — the chars Spark's partitioning escapes), or GLOB across
    * sibling destinations on the read path ('*?[]{}' are Hadoop glob
    * metacharacters: a dest like "logs{a,b}" would make chainSource
    * silently ingest dest=logsa AND dest=logsb), or derail Hadoop Path
    * parsing (':' reads as a URI scheme separator and '#' as a fragment
    * separator: new Path(spool, "dest=a:b") would throw an opaque
    * IllegalArgumentException instead of this contract's clear require).
    * Destinations are topic
    * names; a name needing escaping is a config error, not a value to
    * quietly mangle.
    */
  private[bus] def isSafeDest(dest: String): Boolean =
    dest.nonEmpty && !dest.contains('/') && !dest.contains('\\') &&
      !dest.contains("..") && "=% \u0000*?[]{}:#".forall(c => !dest.contains(c))

  private[bus] def requireSafeDest(dest: String): Unit =
    require(isSafeDest(dest),
      s"illegal destination for path-partitioned spool: '$dest'")

  /** Streaming source over a parquet directory of (id, data, ts) rows.
    * `maxFilesPerTrigger` is the admission-control knob (the analog of the
    * reference's BUFFER_SIZE, /root/reference/basic/source.go:13-17).
    */
  final class ParquetDirSource(dir: String, maxFilesPerTrigger: Int = 10,
      recursive: Boolean = false, ensureDir: Boolean = false)
      extends BusSource {
    def stream(spark: SparkSession): DataFrame = {
      if (ensureDir) {
        // Resolve through Hadoop's FileSystem, not java.io.File: the spool
        // may live on any Spark-supported filesystem (hdfs://, s3a://…),
        // where File would mangle the URI and mkdir a bogus local path.
        // mkdirs is a no-op if the subtree already exists.
        val p = new Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
      }
      spark.readStream
        .schema(msgSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        // recursive: read a batch_id=N subtree (chain spool) as a flat
        // stream of msg files, no partition-column inference
        .option("recursiveFileLookup", recursive.toString)
        .parquet(dir)
    }
  }

  /** A18 bus chaining through the STORE, not the driver: the upstream bus
    * writes with [[ParquetDirSink]] into a spool directory; the downstream
    * bus streams one routed destination's subtree with this source. The
    * handoff is executor-side parquet I/O at both ends — the previous
    * ForwardSink collect()ed every chained row through the driver, which
    * caps chaining at driver memory. Replayed upstream epochs overwrite
    * their own batch_id=N dir with fresh part-file names, which the
    * downstream file-source checkpoint sees as new input: chaining is
    * at-least-once across the link (same as the reference's in-process
    * handoff; dedup at the final sink if exactly-once is required).
    */
  def chainSource(spoolDir: String, dest: String,
      maxFilesPerTrigger: Int = 10): ParquetDirSource = {
    // same gate as the sink's writes: a dest the upstream would reject must
    // not silently become an empty (or spool-escaping) downstream stream
    requireSafeDest(dest)
    // Path(parent, child) keeps the scheme/authority of a remote spoolDir
    // intact (s3a://bucket/spool + dest=x → s3a://bucket/spool/dest=x);
    // creation is deferred to stream() where a SparkSession's Hadoop conf
    // is available (the subtree may not exist until the upstream's first
    // write).
    val d = new Path(spoolDir, s"dest=$dest")
    new ParquetDirSource(d.toString, maxFilesPerTrigger,
      recursive = true, ensureDir = true)
  }

  /** Config-driven construction: BUFFER_SIZE → maxFilesPerTrigger (the
    * reference's admission default of 500 is a per-trigger record budget;
    * for a file source the per-trigger unit is files).
    */
  def parquetSource(dir: String, cfg: BusConfig): ParquetDirSource =
    new ParquetDirSource(dir, maxFilesPerTrigger = cfg.bufferSize)

  /** Sink writing each batch under outDir/dest=<dest>/batch_id=<id>/ as
    * parquet. The (dest, batchId) pair IS the write path and each write
    * OVERWRITES its own path — an epoch replay rewrites the same directory
    * instead of appending duplicates, so the sink is idempotent
    * (exactly-once on top of the at-least-once epoch replay), mirroring
    * MemorySink's replay dedup. Downstream readers see a dest-partitioned
    * table — the queryable DLQ/track-fails analog
    * (/root/reference/basic/source.go:47-49).
    *
    * A driver-held batch (its optimized plan is a `LocalRelation`, as
    * every write of a [[FrizzleStream]] epoch within the bus's driver
    * bound is: at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * of rows, 64 MiB by default) is written on the driver, with no Spark
    * job: one file, through Hadoop `FileSystem` ([[graft.io.DriverParquet]]),
    * with the schema, encodings and footer a Spark write gives it. Any
    * other batch is written by Spark.
    */
  final class ParquetDirSink(outDir: String) extends BusSink {
    // The bus consults this before write and dead-letters rows whose
    // data-computed dest the path layout cannot carry; the hard require in
    // write() stays as the last line of defense for direct callers.
    override def safeDest(dest: String): Boolean = isSafeDest(dest)

    def write(batch: Dataset[Msg], dest: String, batchId: Long): Unit = {
      requireSafeDest(dest)
      val path = s"$outDir/dest=$dest/batch_id=$batchId"
      val df = batch.toDF()
      GraftBridge.driverRows(df) match {
        case Some(rows) =>
          val (conf, ws) = GraftBridge.parquetWrite(df.sparkSession, df.schema)
          graft.io.DriverParquet.overwrite(new Path(path), conf, ws, rows.iterator)
        case None => df.write.mode("overwrite").parquet(path)
      }
    }
  }
}

/** Streaming source over a directory of JSON-lines files with the same
  * (id, data, ts) message schema; `data` arrives base64-encoded in the
  * `data_b64` field (JSON cannot carry raw bytes). Same checkpointed file
  * tracking as ParquetDirSource.
  */
final class JsonDirSource(dir: String, maxFilesPerTrigger: Int = 10)
    extends BusSource {
  import org.apache.spark.sql.types._
  def stream(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("id", StringType),
        StructField("data_b64", StringType),
        StructField("ts", TimestampType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)
      .select(col("id"), unbase64(col("data_b64")).as("data"), col("ts"))
}

/** Replay an EXISTING parquet table (any schema) through the bus: each row
  * becomes a Msg with `id` from `idCol`, the full row JSON-encoded as the
  * payload, and `ts` from `tsExpr`. The file source streams the table's
  * files through the checkpoint like any other source — the "point the bus
  * at your data lake" adapter (no reformatting into the msg layout needed).
  */
final class TableReplaySource(
    path: String,
    idCol: String,
    tsExpr: String,
    maxFilesPerTrigger: Int = 10) extends BusSource {
  def stream(spark: SparkSession): DataFrame = {
    val schema = spark.read.parquet(path).schema
    // the streaming file source requires a DIRECTORY; a single-file table
    // streams via its parent + a glob filter
    val f = new java.io.File(path)
    val (dir, glob) =
      if (f.isFile) (f.getParent, Some(f.getName)) else (path, None)
    var reader = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    glob.foreach(g => reader = reader.option("pathGlobFilter", g))
    val raw = reader.parquet(dir)
    raw.select(
      col(idCol).cast("string").as("id"),
      encode(to_json(struct(raw.columns.toIndexedSeq.map(col): _*)), "UTF-8").as("data"),
      expr(tsExpr).cast("timestamp").as("ts"))
  }
}

/** Streaming source over a directory of ORC files with the same
  * (id, data, ts) message schema — the second columnar binding (ORC ships
  * in Spark like parquet; raw-byte payloads carry natively). Same
  * checkpointed file tracking as ParquetDirSource.
  */
final class OrcDirSource(dir: String, maxFilesPerTrigger: Int = 10)
    extends BusSource {
  def stream(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(FileAdapters.msgSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .orc(dir)
}

/** Streaming source over a directory of headerless CSV files with columns
  * (id, data_b64, ts) — base64 payloads, like JsonDirSource (CSV cannot
  * carry raw bytes either). Same checkpointed file tracking.
  */
final class CsvDirSource(dir: String, maxFilesPerTrigger: Int = 10)
    extends BusSource {
  import org.apache.spark.sql.types._
  def stream(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("id", StringType),
        StructField("data_b64", StringType),
        StructField("ts", TimestampType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)
      .select(col("id"), unbase64(col("data_b64")).as("data"), col("ts"))
}

/** Load-generator source over Spark's built-in rate source: `value` becomes
  * the message id and payload, the generation timestamp becomes `ts`. For
  * throughput demos and soak tests — no external system needed.
  */
final class RateSource(rowsPerSecond: Int) extends BusSource {
  def stream(spark: SparkSession): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        col("value").cast("string").as("id"),
        encode(col("value").cast("string"), "UTF-8").as("data"),
        col("timestamp").as("ts"))
}

/** No-op sink: accepts and drops everything — the reference's MOCK mode
  * (basic/source.go:82-84, sink.go:29-31; README.md:183), for dry runs and
  * tests that only observe counters.
  */
final class NoopSink extends BusSink {
  def write(batch: Dataset[Msg], dest: String, batchId: Long): Unit =
    // a driver-held batch is already evaluated; any other is run and dropped
    if (GraftBridge.driverRows(batch).isEmpty) batch.queryExecution.toRdd.count(): Unit
}
