package graft.bus

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.io.DriverParquet

/** Seen-hash index maintained ACROSS micro-batches — the streaming
  * realization of [[graft.ops.Dedup.incrementalDedup]]'s scale claim: at
  * 100 TB the seen side IS a maintained hash index (8 bytes per document),
  * never the corpus itself. Plugged into a running [[FrizzleStream]] via
  * its epoch-aware processor, it dedups every arriving epoch against
  * everything ingested before it.
  *
  * Layout: an epoch-partitioned parquet spool `dir/epoch=N/` holding one
  * column `h` (xxhash64 of the payload). Replay-safe by construction under
  * foreachBatch's at-least-once delivery:
  *   - the lookup for epoch N reads only partitions `epoch < N`, so a
  *     replayed epoch never anti-joins against its own previous (failed)
  *     attempt's hashes — no replay can silently drop its own rows;
  *   - the append for epoch N OVERWRITES `epoch=N`, so a replay converges
  *     to the same index state instead of double-appending.
  *
  * == Per-epoch cost is ∝ BATCH size, not index size ==
  *
  * A plain `batch LEFT ANTI JOIN index` re-reads AND re-shuffles the whole
  * index every epoch, so throughput decays as the index grows — the one
  * super-linear-in-time path a perpetual bus would have. Three structural
  * changes make the lookup batch-proportional:
  *
  *   1. '''Small runs live on the driver, probed exactly.''' An
  *      unbucketed run — a raw epoch run, or a merge below the bucket
  *      threshold (fewer than 2·bucketRows hashes) — is held on the driver
  *      as a sorted `Array[Long]`, filled from the very array the driver
  *      wrote it from (or read from its parquet on first touch after a
  *      restart). An epoch's distinct hashes are binary-searched in these
  *      arrays: an exact answer with no Spark job, no broadcast and no
  *      sketch. The epoch's hashes reach the driver once, bounded by the
  *      micro-batch's size — trigger-bounded by A3's
  *      maxFilesPerTrigger/maxOffsetsPerTrigger, the same knob that
  *      bounds every other per-epoch resource.
  *   2. '''Hash-bucketed merged runs: bloom probe, bucket-pruned
  *      verification.''' Compaction lays a merge of 2·bucketRows or more
  *      hashes out as `b=pmod(h, N)/` partitions (N sized for ~bucketRows
  *      hashes per bucket file, `_nbuckets` sidecar) with a `_bloom`
  *      sidecar (Spark's 64-bit-hash sketch, fpp 1e-5 — the `bloomFpp`
  *      default below, ~24 bits/hash) held on the driver. Only (hash, run)
  *      pairs the bloom cannot rule out — true duplicates plus
  *      ~fpp·|batch| false positives per run — go to the epoch's one
  *      verification job, which reads ONLY the buckets they name, filtered
  *      by one `InSet` node of the candidates: a big tier hit by `c` false
  *      positives costs ≤ c bucket files, not a 67 M-row scan. A bloom has
  *      NO false negatives, so the answer stays exact; the sketch only
  *      prunes reads.
  *   3. '''One materialization, first copies picked on the driver, zero
  *      shuffle.''' Each epoch tags its rows with the payload hash and a
  *      row id into one lazily checkpointed frame; the one collect of
  *      (hash, id, row id, payload length) reads the source once and fills
  *      the checkpoint in the same job. Each of its n partitions also
  *      returns its rows while they take at most 1/n of the driver bound,
  *      `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MiB by
  *      default). The driver picks each hash's first copy. Within the
  *      bound the output is the surviving rows as a driver-held
  *      `LocalRelation`, which a [[FrizzleStream]] routes with no further
  *      job; the driver then holds the epoch's rows, at most the bound.
  *      Above it the output is the checkpoint filtered by
  *      `NOT InSet(dropped row ids)`. Either way: no window exchange, no
  *      join, no broadcast. The survivors' run is written on the driver
  *      from the same array, so the append is no Spark job either.
  *
  * Driver memory: 8 B per hash of every unbucketed run, on top of the
  * buckets' blooms (~3 B per hash). With compaction on, a size class
  * holds at most ~compactEvery runs and every merged unbucketed run is
  * under 2·bucketRows hashes (2 MiB at the default), so the arrays stay
  * within ~compactEvery · 2 MiB per size class below the threshold plus
  * the raw runs; with `compactEvery = 0` every run stays raw, so the whole
  * index sits on the driver at 8 B per hash.
  *
  * Compaction: a long-running bus writes one `epoch=N/` directory per
  * micro-batch — ~86k/day at a 1 s trigger. [[compact]] merges runs in
  * SIZE CLASSES (LSM shape): each hash is rewritten O(log epochs) times
  * over the index's lifetime and the directory count stays
  * O(fanout · log epochs), vs a single-level merge that rewrites the
  * ENTIRE index every compaction (O(N²/k) cumulative bytes on a perpetual
  * bus). With `compactEvery > 0` the [[dedupEpoch]] stage self-compacts
  * whenever the partition count reaches the threshold, the bounding
  * mechanism the reference gets from acking its unacked map (its
  * `common/unacked.go`). Most merges are small — a few epochs' hashes —
  * so a merge below the bucket threshold (`2·bucketRows` hashes) reads,
  * dedups and writes its run on the driver with no Spark job; only a
  * merge that will be bucketed runs as a Spark job.
  *
  * Storage: `dir` may be any Hadoop path. Every driver-side read, write,
  * list, rename and delete goes through Hadoop `FileSystem` on the
  * session's Hadoop conf, and Spark reads and writes the same paths. A
  * driver-written data file is committed by a write under a hidden name
  * plus a rename ([[graft.io.DriverParquet]]). Where rename is
  * copy-then-delete, a crash between the two steps leaves a complete
  * visible file beside the hidden one: a replayed epoch deletes its run
  * first, and a merged run without its `_run_weight` is a weight-1
  * duplicate that a later compaction folds in. Runs are walked with
  * `listStatus`: a located status (`listFiles`) or a status's permission
  * makes Hadoop's local filesystem fork `ls -ld` per file without
  * `libhadoop`. The root listing is the one record of which runs exist,
  * and [[dedupEpoch]] lists the root once: its threshold check, its
  * compaction cascade (which updates the label list as it merges) and its
  * lookup share that listing. What cannot change for a label — its
  * weight, bucket count, hashes, bloom and Spark frame — is held in one
  * [[Run]] record per label, so no run's sidecar is read twice.
  *
  * @param compactEvery compact when the index holds this many epoch
  *   partitions (0 = never); also the tiering fanout (runs per size class
  *   before they merge, min 2). The directory count then stays
  *   ≤ ~compactEvery · log_compactEvery(epochs). Safe at any value ≥ 2:
  *   epochs below the running batchId are committed by foreachBatch's
  *   sequential contract, so merging them can never race a replay (only
  *   the CURRENT epoch can replay, and it is never an input of
  *   compaction; merged runs live at fresh labels, never overwriting
  *   anything).
  * @param bloomFpp Bloom false-positive rate of each bucketed run. The
  *   steady-state verification read is ~fpp·|batch|·bucketRows rows per
  *   big tier per epoch (each false positive drags in one bucket file), so
  *   fpp is the read-amplification dial, not just a memory knob: 1e-5 ⇒
  *   ~24 bits (~3 B) per hash and ~2 spurious bucket reads per tier per
  *   200 k-row epoch.
  * @param bucketRows target hashes per bucket file in merged runs; also
  *   the threshold below which a merged run stays unbucketed, is merged on
  *   the driver and is held there as a sorted array (fewer than
  *   2·bucketRows hashes, so it also bounds driver memory). Smaller
  *   buckets shrink the per-false-positive read but multiply file count
  *   (listing cost on an object store): 2^17 ⇒ ~1 MB files, ~700 per
  *   90 M-hash tier.
  */
final class SeenHashIndex(spark: SparkSession, dir: String,
    compactEvery: Int = 0, bloomFpp: Double = 1e-5,
    bucketRows: Long = 1L << 17) {

  import spark.implicits._

  /** The Hadoop conf of every driver-side file operation (the session's,
    * as a Spark parquet write of `h BIGINT` gets it) and the write support
    * of the driver-written run files. Those files are plain-encoded and
    * uncompressed (distinct 64-bit hashes neither repeat nor compress, and
    * an uncompressed write allocates no page-size compressor buffer), and
    * a run directory gets no `_SUCCESS` marker.
    */
  private val (conf, hashWrite) = {
    val (c, ws) = GraftBridge.parquetWrite(spark, StructType.fromDDL("h BIGINT"))
    c.set(ParquetOutputFormat.COMPRESSION, "UNCOMPRESSED")
    c.setBoolean(ParquetOutputFormat.ENABLE_DICTIONARY, false)
    c.setBoolean(FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER, false)
    (c, ws)
  }

  private val fs: FileSystem = new Path(dir).getFileSystem(conf)

  /** `dir` qualified on its Hadoop `FileSystem` (a bare path takes the
    * session's default filesystem), so any Hadoop path works. The driver
    * reads, writes, lists, renames and deletes runs through [[fs]], and
    * Spark reads and writes the same qualified paths: one I/O path, one
    * index. A driver-written data file is committed by a write under a
    * hidden name plus a rename ([[graft.io.DriverParquet]]).
    */
  private val root: Path = fs.makeQualified(new Path(dir))

  private def runDir(label: Long): Path = new Path(root, s"epoch=$label")

  /** Hashes ingested before `epochId` (empty frame if no prior epoch) —
    * the FULL logical view, one per-run streaming scan unioned (runs are
    * mixed-layout: raw single-file and bucketed merged dirs cannot share
    * one partition-discovery read). Audit/test surface; [[dedupEpoch]]
    * itself probes driver-held arrays and bloom-and-bucket-pruned slices
    * instead.
    */
  def seenBefore(epochId: Long): DataFrame = {
    val labels = epochs().filter(_ < epochId)
    if (labels.isEmpty) emptyHashes
    else labels.map(run(_).frame.select("h")).reduce(_.union(_))
  }

  private def emptyHashes: DataFrame =
    spark.range(0).select(col("id").as("h"))

  /** What the index holds of one run label: only what cannot change
    * between the run's write and its deletion, each part loaded on first
    * use unless the write that made the run passed it in. [[runs]] drops
    * the record when the label is overwritten (a replayed epoch) or
    * deleted (a merge input), so no part is ever stale.
    *
    * @param layout (weight, bucket count) as the merge wrote them; else
    *   1 and 1 for a raw run (labels ≥ 0 have no sidecars) and a merged
    *   run's `_run_weight` and `_nbuckets` sidecars, read once (1 when
    *   missing)
    * @param wrote an unbucketed run's hashes as its driver write wrote them
    * @param built a bucketed run's bloom as its merge built it
    */
  private final class Run(val label: Long, layout: Option[(Long, Int)] = None,
      wrote: Option[Array[Long]] = None, built: Option[BloomFilter] = None) {
    val dir: Path = runDir(label)

    lazy val (weight, nBuckets) = layout.getOrElse(
      if (label >= 0) (1L, 1)
      else (sidecar("_run_weight").fold(1L)(_.toLong), sidecar("_nbuckets").fold(1)(_.toInt)))

    /** The run's hashes, sorted and distinct, held on the driver (see the
      * class doc for the memory bound).
      */
    lazy val hashes: Array[Long] = wrote.getOrElse(readHashes(dir))

    /** A bucketed run's bloom. A missing `_bloom` (a crash between the
      * parquet commit and the sidecar write) self-heals: it is rebuilt
      * from the run's parquet and written. A failed load or rebuild
      * degrades to None: every hash is a candidate for the run
      * (full-read verification, still exact). Unbucketed runs carry no
      * `_bloom`; one left by an earlier layout is never read.
      */
    lazy val bloom: Option[BloomFilter] = built.orElse {
      val p = new Path(dir, "_bloom")
      try {
        if (!fs.exists(p)) writeSidecar(dir, "_bloom")(sparkBloomOf(dir, rowCountOf(label)).writeTo)
        val is = fs.open(p)
        try Some(BloomFilter.readFrom(is)) finally is.close()
      } catch { case _: Exception => None }
    }

    /** The run's Spark frame. A fresh `spark.read.parquet` re-lists the
      * run's whole directory tree (512 `b=` subdirs on a 67 M-hash tier),
      * so one listing per run lifetime keeps the per-epoch cost off the
      * index size. The data schema is given, not inferred: inference is
      * one footer-reading Spark job per run (a bucketed run's `b` still
      * comes from its paths).
      */
    lazy val frame: DataFrame = spark.read.schema("h BIGINT").parquet(dir.toString)

    /** The text of this run's sidecar `name`, None when it has none. */
    private def sidecar(name: String): Option[String] =
      try {
        val in = fs.open(new Path(dir, name))
        try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
      } catch { case _: FileNotFoundException => None }
  }

  /** The [[Run]] record of each label this instance has touched. */
  private val runs = mutable.Map[Long, Run]()

  private def run(label: Long): Run = runs.getOrElseUpdate(label, new Run(label))

  /** Record `hashes` as epoch `epochId`'s survivors (overwrite = replay
    * idempotent): their distinct values are collected to the driver (a raw
    * run is batch-sized) and written like a [[dedupEpoch]] run.
    */
  def append(hashes: DataFrame, epochId: Long): Unit =
    appendKnownDistinct(hashes.toDF("h").distinct().as[Long].collect(), epochId)

  /** Epoch partition values currently on disk. */
  def epochs(): Seq[Long] =
    try fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong)
    catch { case _: FileNotFoundException => Nil }

  /** Cumulative bytes written by [[compact]] merges over this instance's
    * lifetime — the quantity whose growth BusSpec bounds to prove the
    * tiered scheme's write amplification is O(log epochs) per hash, not
    * O(epochs) (the single-level failure mode). Counts every file the
    * merged run's filesystem lists, so sidecar bytes are included (blooms
    * are ~2.4 B/hash — they ride the same log-shaped rewrite schedule as
    * the data they summarize) and a checksummed filesystem's hidden `.crc`
    * files are not.
    */
  def compactBytesWritten: Long = _compactBytes.get()
  private val _compactBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test failpoint: runs after a merged run is durably staged, before its
    * input runs are deleted — the crash window BusSpec injects into to
    * prove a torn compaction never loses history.
    */
  private[graft] var onBeforeDelete: () => Unit = () => ()

  /** Tiered (LSM-style) compaction over the runs with `epoch < uptoEpoch`.
    * A "run" is one `epoch=V/` directory; raw epochs are weight-1 runs, a
    * merged run carries the sum of its inputs' weights in a `_run_weight`
    * sidecar (underscore-prefixed — invisible to parquet reads). Class of
    * a run = ⌊log_fanout(weight)⌋; whenever a class holds ≥ fanout runs
    * they merge into ONE run of the next class, cascading like a
    * base-fanout counter. Each hash is therefore rewritten at most
    * log_fanout(epochs) times over the index's lifetime and the directory
    * count stays ≤ ~fanout · log_fanout(epochs) — vs the single-level
    * all-into-one merge, whose cumulative rewrite is O(N²/k) bytes.
    * Idempotent: a repeat call with no full class is a no-op.
    *
    * Crash safety — committed history is NEVER destroyed before its
    * replacement is durable: the merged run is written to a FRESH negative
    * label (negative ⇒ below every real batchId, so [[seenBefore]]'s
    * `epoch < N` filter always includes it; fresh ⇒ nothing is overwritten
    * in place, which also makes the write object-store safe — no
    * delete-then-rewrite window). Only after that write commits are the
    * input runs deleted. A crash before the commit leaves a partial merged
    * run whose rows duplicate the still-intact inputs; a crash
    * mid-deletion leaves whole duplicate runs — both harmless to the
    * lookup (a duplicate hash cannot re-admit a document) and
    * self-healing (leftovers are ordinary runs that a later compaction
    * folds in and dedups). No recovery step exists because
    * none is needed.
    *
    * Safety vs replays: callers pass `uptoEpoch = the currently-running
    * batchId`. foreachBatch executes epochs sequentially, so every input
    * run is committed — only the CURRENT epoch can replay, and it is never
    * an input of compaction.
    *
    * @return bytes written by this call (0 if no class was full)
    */
  def compact(uptoEpoch: Long): Long = compactRuns(epochs(), uptoEpoch)._2

  /** [[compact]] over `labels`, the runs on disk, with no listing of its
    * own: each merge replaces its inputs in the list by its fresh label.
    *
    * @return the runs on disk after the merges, and the bytes written
    */
  private def compactRuns(labels: Seq[Long], uptoEpoch: Long): (Seq[Long], Long) = {
    val fanout = math.max(2, compactEvery)
    var now = labels
    var written = 0L
    var merged = true
    while (merged) {
      merged = false
      now.filter(_ < uptoEpoch).map(run)
        .groupBy(r => sizeClass(r.weight, fanout))
        .toSeq.sortBy(_._1)
        .find(_._2.sizeCompare(fanout) >= 0)
        .foreach { case (_, group) =>
          val label = math.min(0L, now.min) - 1
          written += mergeRuns(group, label)
          val inputs = group.map(_.label).toSet
          now = now.filterNot(inputs) :+ label
          merged = true // cascade: the new run may fill the next class
        }
    }
    _compactBytes.addAndGet(written)
    (now, written)
  }

  /** Merge one size-class group into a single run at the fresh negative
    * `label`. Below ~2 bucket files of hashes (`rowBound < 2·bucketRows`)
    * the merge runs on the driver with no Spark job: the inputs' hashes
    * are deduplicated, written as one file and kept as the new run's
    * driver-held array. Above it the merged run is hash-BUCKETED
    * (`b = pmod(h, N)` partitions) by a Spark job, so [[dedupEpoch]]'s
    * verification can read candidate buckets instead of the whole tier;
    * inputs are read per-run (mixed raw/bucketed layouts), and the bucket
    * repartition rides on the distinct's exchange output (each bucket
    * file written whole by one task). Either way the inputs are deleted
    * only after the staged write — data, weight and, when bucketed, bucket
    * count and bloom — is complete, keeping the crash window's only
    * artifacts harmless duplicates.
    */
  private def mergeRuns(group: Seq[Run], label: Long): Long = {
    val out = runDir(label)
    // row counts (an unbucketed run's hashes, else its parquet footers):
    // an upper bound on the merged distinct cardinality (exact unless a
    // torn compaction left duplicate runs), cheap enough to pick the path
    // and size buckets and bloom up front
    val rowBound = group.map(r =>
      if (r.nBuckets == 1) r.hashes.length.toLong else rowCountOf(r.label)).sum
    val weight = group.map(_.weight).sum
    val weightText = weight.toString.getBytes(UTF_8)
    runs(label) = if (rowBound < 2 * bucketRows) {
      val all = new mutable.ArrayBuilder.ofLong
      group.foreach(all ++= _.hashes)
      val merged = sortedDistinct(all.result())
      // a fresh label: the overwrite deletes no run
      DriverParquet.overwrite(out, conf, hashWrite, merged.iterator.map(InternalRow(_)))
      writeSidecar(out, "_run_weight")(_.write(weightText))
      new Run(label, Some((weight, 1)), wrote = Some(merged))
    } else {
      val nb = math.ceil(rowBound.toDouble / bucketRows).toInt
      group.map(_.frame.select("h"))
        .reduce(_.union(_)).distinct()
        .withColumn("b", pmod(col("h"), lit(nb)).cast("int"))
        .repartition(col("b"))
        .write.partitionBy("b").mode("error").parquet(out.toString)
      writeSidecar(out, "_run_weight")(_.write(weightText))
      writeSidecar(out, "_nbuckets")(_.write(nb.toString.getBytes(UTF_8)))
      val bloom = sparkBloomOf(out, rowBound)
      writeSidecar(out, "_bloom")(bloom.writeTo)
      new Run(label, Some((weight, nb)), built = Some(bloom))
    }
    onBeforeDelete()
    group.foreach { r =>
      runs.remove(r.label)
      fs.delete(r.dir, true)
    }
    fs.getContentSummary(out).getLength
  }

  private def writeSidecar(run: Path, name: String)(body: java.io.OutputStream => Unit): Unit = {
    val os = fs.create(new Path(run, name), true)
    try body(os) finally os.close()
  }

  /** ⌊log_fanout(weight)⌋ by integer division (no float edge cases). */
  private def sizeClass(w: Long, fanout: Int): Int = {
    var c = 0
    var x = w
    while (x >= fanout) { x /= fanout; c += 1 }
    c
  }

  /** A run's data files: the `.parquet` files a Spark read of the run
    * lists — at the top level of a raw run or under a bucketed run's `b=`
    * directories, with no `_`- or `.`-prefixed name on the way, so a
    * hidden temp file or `_temporary` directory left by a crashed write is
    * never read.
    */
  private def dataFilesOf(run: Path): Seq[FileStatus] = {
    // listStatus only: see the class doc's storage paragraph
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filter { st =>
        val name = st.getPath.getName
        !name.startsWith("_") && !name.startsWith(".")
      }.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Nil
      }
    try walk(run) catch { case _: FileNotFoundException => Nil }
  }

  private lazy val readOptions = HadoopReadOptions.builder(conf).build()

  private def openFile(f: FileStatus): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), readOptions)

  /** Row count of a run from its parquet footers, read on the driver (no
    * Spark job).
    */
  private[graft] def rowCountOf(e: Long): Long =
    dataFilesOf(runDir(e)).map { f =>
      val r = openFile(f)
      try r.getRecordCount finally r.close()
    }.sum

  /** The `h` values of the run at `run`, sorted and distinct, read on the
    * driver (no Spark job) column-chunk by column-chunk.
    */
  private def readHashes(run: Path): Array[Long] = {
    val into = new mutable.ArrayBuilder.ofLong
    dataFilesOf(run).foreach { f =>
      val r = openFile(f)
      try {
        val meta = r.getFooter.getFileMetaData
        val h = meta.getSchema.getColumnDescription(Array("h"))
        var rowGroup = r.readNextRowGroup()
        while (rowGroup != null) {
          val values = new ColumnReadStoreImpl(rowGroup,
            SeenHashIndex.NoConverter, meta.getSchema, meta.getCreatedBy)
            .getColumnReader(h)
          var n = values.getTotalValueCount
          while (n > 0) {
            if (values.getCurrentDefinitionLevel == h.getMaxDefinitionLevel)
              into += values.getLong
            values.consume()
            n -= 1
          }
          rowGroup = r.readNextRowGroup()
        }
      } finally r.close()
    }
    sortedDistinct(into.result())
  }

  /** `hs` sorted with duplicates removed (sorts `hs` in place). */
  private def sortedDistinct(hs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(hs)
    var n = 0
    for (h <- hs) if (n == 0 || hs(n - 1) != h) { hs(n) = h; n += 1 }
    java.util.Arrays.copyOf(hs, n)
  }

  /** A run's bloom built by one Spark job over its parquet — for bucketed
    * merges and the missing-sidecar self-heal.
    */
  private def sparkBloomOf(run: Path, expectedItems: Long): BloomFilter =
    spark.read.schema("h BIGINT").parquet(run.toString)
      .stat.bloomFilter("h", math.max(1L, expectedItems), bloomFpp)

  /** The bus epoch stage over (id, data, ts) message frames, string ids:
    * keep the first copy per payload hash WITHIN the epoch (min id, nulls
    * first), drop the copies whose hash is already in the index, then
    * append the survivors' hashes as this epoch's partition. Wire as
    * `epochProcess = Some((df, e) => route(idx.dedupEpoch(df, e)))`.
    *
    * Lookup shape (see class doc): the batch tagged with its payload hash
    * and a row id, lazily checkpointed → ONE job collecting (hash, id, row
    * id, payload length) that also fills the checkpoint and returns each
    * partition's rows while they fit its share of the driver bound → the
    * driver picks each hash's first copy and probes the distinct hashes
    * (driver-held arrays, then blooms and ONE verification job only if a
    * bucketed run may hold one) → within the bound, the surviving rows as
    * a driver-held `LocalRelation` (driver memory: the epoch's rows, at
    * most one advisory partition); above it, the checkpoint filtered by
    * `NOT InSet(dropped row ids)`. The survivor hashes are written on the
    * driver from the driver-held array. Work per epoch is bounded by the
    * batch (+ fpp·|batch| false-positive reads per bucketed run),
    * independent of total index size.
    */
  def dedupEpoch(batch: DataFrame, epochId: Long): DataFrame = {
    // free the PREVIOUS epoch's checkpoint blocks first: foreachBatch's
    // sequential contract means they are fully consumed, but the block
    // manager only drops them on a GC-driven ContextCleaner pass — on a
    // perpetual bus that is an unbounded block-manager accretion (~MBs per
    // epoch, eviction pressure that decays throughput). Only OUR tracked
    // ids are touched — a blanket unpersist would evict concurrent
    // streams' cached frames in a shared session.
    prevEpochBlocks.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    prevEpochBlocks = Nil
    // self-compaction on the partition-count threshold, BEFORE the lookup:
    // the lookup then probes a bounded run set. Compacting here (vs a side
    // thread) keeps the single-writer invariant for free. One listing
    // serves the check, the cascade and the lookup.
    var labels = epochs()
    if (compactEvery > 0 && labels.count(_ < epochId) >= compactEvery)
      labels = compactRuns(labels, epochId)._1
    // materialize once: the collect below computes the tagged rows into
    // the checkpoint, which the returned frame reads above the driver
    // bound — the source is read once, and the row ids the driver picks by
    // stay fixed
    val tagged = batch.withColumn("__h", xxhash64(col("data")))
      .withColumn("__rid", monotonically_increasing_id())
      .transform(checkpointTracked)
    // read as the plan's own internal rows: no encoder and no SQL
    // execution around this collect. Each partition returns its tags and,
    // while they fit its share of the driver bound, its rows.
    val rdd = tagged.select(col("*"), col("id").cast("binary"),
        coalesce(octet_length(col("data")), lit(0)))
      .queryExecution.toRdd
    val advisory = GraftBridge.advisoryPartitionBytes(batch.sparkSession)
    val share = advisory / math.max(1, rdd.getNumPartitions)
    val parts = rdd.mapPartitions(SeenHashIndex.tagsOf(batch.schema, share)).collect()
    val rows = parts.flatMap(_._1)
    val first = mutable.LongMap[Int]() // hash -> index of its first copy
    for (i <- rows.indices) {
      val j = first.getOrElse(rows(i).h, -1)
      if (j < 0 || SeenHashIndex.precedes(rows(i), rows(j))) first(rows(i).h) = i
    }
    val hashes = first.keys.toArray
    val seen = seenOf(hashes, labels.filter(_ < epochId))
    appendKnownDistinct(hashes.filterNot(seen), epochId)
    def kept(i: Int): Boolean = first(rows(i).h) == i && !seen(rows(i).h)
    if (parts.forall(_._2.isDefined)) {
      // within the bound: the survivors as a driver-held frame, so the
      // bus routes them with no further job
      val held = parts.flatMap(_._2.get)
      GraftBridge.localFrame(batch.sparkSession, batch.schema,
        rows.indices.collect { case i if kept(i) => held(i) })
    } else {
      val dropped = Set.newBuilder[Any]
      var keptBytes = 0L
      for (i <- rows.indices) if (kept(i)) keptBytes += rows(i).len else dropped += rows(i).rid
      val droppedSet = dropped.result()
      val out =
        if (droppedSet.isEmpty) tagged
        else tagged.filter(!GraftBridge.inSet(col("__rid"), droppedSet))
      // the partitioning AQE gave the old window exchange's output: one
      // partition per advisory size of payload, so each destination's write
      // runs as one task per partition, not one per source split
      val nParts = math.max(1L, (keptBytes + advisory - 1) / advisory)
      out.drop("__h", "__rid").coalesce(nParts.toInt)
    }
  }

  /** The subset of `hashes` present in the runs `labels`: unbucketed runs
    * answer exactly from their driver-held arrays; bucketed runs by a
    * driver-side bloom probe, then one verification job over the touched
    * buckets (no job when no bucketed run may hold a hash).
    */
  private def seenOf(hashes: Array[Long], labels: Seq[Long]): Set[Long] = {
    // a set: a torn compaction can leave the same hash in two runs
    val seen = mutable.HashSet[Long]()
    val candidates = mutable.HashSet[Long]()
    val touched = labels.sorted.map(run).flatMap { r =>
      val nb = r.nBuckets
      if (nb == 1) {
        val held = r.hashes
        hashes.foreach(h => if (java.util.Arrays.binarySearch(held, h) >= 0) seen += h)
        None
      } else {
        val bloom = r.bloom
        val buckets = mutable.SortedSet[Int]()
        hashes.foreach { h =>
          if (bloom.forall(_.mightContainLong(h))) {
            candidates += h
            buckets += (((h % nb) + nb) % nb).toInt
          }
        }
        if (buckets.isEmpty) None
        else Some(r.frame.filter(col("b").isin(buckets.toSeq: _*)).select("h"))
      }
    }
    if (touched.nonEmpty)
      seen ++= touched.reduce(_.union(_))
        .filter(GraftBridge.inSet(col("h"), candidates.toSet[Any]))
        .as[Long].collect()
    seen.toSet
  }

  /** Write `hashes` (distinct by construction; sorted here, in place) as
    * epoch `epochId`'s run on the driver, with no Spark job — one file,
    * overwrite = replay idempotent — and hold the same array as the run's
    * driver-held hashes.
    */
  private def appendKnownDistinct(hashes: Array[Long], epochId: Long): Unit = {
    java.util.Arrays.sort(hashes)
    // replay overwrite ⇒ the label's record is stale
    runs.remove(epochId)
    // the overwrite deletes a replay's previous attempt first
    DriverParquet.overwrite(runDir(epochId), conf, hashWrite, hashes.iterator.map(InternalRow(_)))
    runs(epochId) = new Run(epochId, wrote = Some(hashes))
  }

  /** A lazy localCheckpoint (its blocks fill on the first job that reads
    * it) with its RDD ids recorded, so the NEXT epoch can free them (see
    * [[dedupEpoch]]). The ids are read from the
    * returned frame's OWN plan (its LogicalRDD nodes): a
    * getPersistentRDDs-set diff could capture a CONCURRENT stream's RDD
    * persisted inside the bracket, and unpersisting a stranger's
    * localCheckpointed RDD (truncated lineage) crashes that query's later
    * access instead of recomputing.
    */
  private var prevEpochBlocks: Seq[Int] = Nil

  private def checkpointTracked(df: DataFrame): DataFrame = {
    val out = GraftBridge.lazyLocalCheckpoint(df)
    prevEpochBlocks ++= GraftBridge.checkpointedRddIds(out)
    out
  }
}

object SeenHashIndex {
  /** One collected row of an epoch: payload hash, id as UTF-8 bytes (null
    * for a null id), row id, payload bytes.
    */
  private final case class Tag(h: Long, id: Array[Byte], rid: Long, len: Int)

  /** One partition of a tagged epoch — the batch's `n` columns, then
    * hash, row id, id as bytes and payload bytes: its tags, and its
    * batch columns while they fit `share` bytes
    * ([[FrizzleStream.holdWithin]]).
    */
  private def tagsOf(batch: StructType, share: Long)(rows: Iterator[InternalRow])
      : Iterator[(Array[Tag], Option[Array[InternalRow]])] = {
    val n = batch.length
    val tags = Array.newBuilder[Tag]
    val held = FrizzleStream.holdWithin(batch, share, rows) { r =>
      tags += Tag(r.getLong(n), if (r.isNullAt(n + 2)) null else r.getBinary(n + 2),
        r.getLong(n + 1), r.getInt(n + 3))
    }
    Iterator((tags.result(), held))
  }

  /** Whether `a` is an earlier copy than `b`: smaller id, nulls first, in
    * UTF-8 byte order — Spark's string order, which `String.compareTo`'s
    * UTF-16 order is not — then smaller row id.
    */
  private def precedes(a: Tag, b: Tag): Boolean = {
    val c =
      if (a.id == null) { if (b.id == null) 0 else -1 }
      else if (b.id == null) 1
      else java.util.Arrays.compareUnsigned(a.id, b.id)
    c < 0 || (c == 0 && a.rid < b.rid)
  }

  /** [[ColumnReadStoreImpl]] wants a record converter; the driver read
    * takes values straight off the column reader and never calls it.
    */
  private object NoConverter extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = leaf
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
