package graft.bus

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

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
  *      the checkpoint in the same job. The driver picks each hash's first
  *      copy, and the output is the checkpoint filtered by
  *      `NOT InSet(dropped row ids)`: no window exchange, no join, no
  *      broadcast. The survivors' run is written on the driver from the
  *      same array, so the append is no Spark job either.
  *
  * Driver memory: 8 B per hash of every unbucketed run, on top of the
  * buckets' blooms (~3 B per hash). With compaction on, a size class
  * holds at most ~compactEvery runs and every merged unbucketed run is
  * under 2·bucketRows hashes (2 MiB at the default), so the arrays stay
  * within ~compactEvery · 2 MiB per size class below the threshold plus
  * the raw runs; with `compactEvery = 0` every run stays raw, so the whole
  * index sits on the driver at 8 B per hash.
  *
  * A bucketed run whose `_bloom` sidecar is missing (a crash between the
  * parquet commit and the sidecar write) degrades safely: every batch
  * hash is a candidate for it (full-read verification, still exact);
  * [[bloomFor]] self-heals by rebuilding the sidecar from the run's
  * parquet on first touch. Unbucketed runs carry no `_bloom`; one left by
  * an earlier layout is ignored.
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

  /** `dir` resolved once through Hadoop `Path`, as an absolute local
    * path: the driver reads and writes runs with `java.nio` and Spark
    * reads and writes them through `file:` URIs of the same directory, so both see one
    * index whatever the session's default filesystem is. A `file:` scheme is
    * stripped; any other scheme is refused here, since its runs would land
    * on the driver's local disk.
    */
  private val root: Path = {
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"SeenHashIndex dir '$dir': the index keeps its runs on the driver's " +
        "local disk, so it takes a local path or a file: URI; other stores " +
        "need its I/O on Hadoop FileSystem (ROADMAP D7)")
    Paths.get(uri.getPath).toAbsolutePath
  }

  private def runDir(label: Long): Path = root.resolve(s"epoch=$label")

  /** A local path as the `file:` URI Spark reads and writes it by. */
  private def uriOf(p: Path): String = new org.apache.hadoop.fs.Path(p.toUri).toString

  /** Hashes ingested before `epochId` (empty frame if no prior epoch) —
    * the FULL logical view, one per-run streaming scan unioned (runs are
    * mixed-layout: raw single-file and bucketed merged dirs cannot share
    * one partition-discovery read). Audit/test surface; [[dedupEpoch]]
    * itself probes driver-held arrays and bloom-and-bucket-pruned slices
    * instead.
    */
  def seenBefore(epochId: Long): DataFrame = {
    val runs = epochs().filter(_ < epochId)
    if (runs.isEmpty) emptyHashes
    else runs.map(readRun(_, None)).reduce(_.union(_))
  }

  private def emptyHashes: DataFrame =
    spark.range(0).select(col("id").as("h"))

  /** One run's hashes; `buckets = Some(bs)` prunes a bucketed run to the
    * named `b=` partitions.
    *
    * The base frame is CACHED per label: runs are immutable between
    * creation and deletion, but a fresh `spark.read.parquet` re-lists the
    * run's whole directory tree (InMemoryFileIndex build — 512 `b=`
    * subdirs on a 67 M-hash tier) on EVERY epoch, a per-epoch cost that
    * grows with index size even when only two bucket files are read —
    * exactly the ∝-index creep this class exists to kill. One listing per
    * run lifetime; [[evictCached]] drops the entry when the run is
    * overwritten (replay) or deleted (compaction). The data schema is
    * given, not inferred: inference is one footer-reading Spark job per
    * run on first touch (a bucketed run's `b` still comes from its paths).
    */
  private val runFrameCache = mutable.Map[Long, DataFrame]()

  private def readRun(label: Long, buckets: Option[Seq[Int]]): DataFrame = {
    val base = runFrameCache.getOrElseUpdate(label,
      spark.read.schema("h BIGINT").parquet(uriOf(runDir(label))))
    buckets.fold(base)(bs => base.filter(col("b").isin(bs: _*))).select("h")
  }

  /** Record `hashes` as epoch `epochId`'s survivors (overwrite = replay
    * idempotent): their distinct values are collected to the driver (a raw
    * run is batch-sized) and written like a [[dedupEpoch]] run.
    */
  def append(hashes: DataFrame, epochId: Long): Unit =
    appendKnownDistinct(hashes.toDF("h").distinct().as[Long].collect(), epochId)

  /** Epoch partition values currently on disk. */
  def epochs(): Seq[Long] = {
    if (!Files.isDirectory(root)) Nil
    else {
      val st = Files.list(root)
      try {
        val it = st.iterator()
        val buf = Seq.newBuilder[Long]
        while (it.hasNext) {
          val name = it.next().getFileName.toString
          if (name.startsWith("epoch=")) buf += name.stripPrefix("epoch=").toLong
        }
        buf.result()
      } finally st.close()
    }
  }

  /** Cumulative bytes written by [[compact]] merges over this instance's
    * lifetime — the quantity whose growth BusSpec bounds to prove the
    * tiered scheme's write amplification is O(log epochs) per hash, not
    * O(epochs) (the single-level failure mode). Includes sidecar bytes
    * (blooms are ~2.4 B/hash — they ride the same log-shaped rewrite
    * schedule as the data they summarize).
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
  def compact(uptoEpoch: Long): Long = {
    val fanout = math.max(2, compactEvery)
    var written = 0L
    var merged = true
    while (merged) {
      merged = false
      val runs = epochs().filter(_ < uptoEpoch).map(e => (e, weightOf(e)))
      runs.groupBy { case (_, w) => sizeClass(w, fanout) }
        .toSeq.sortBy(_._1)
        .find(_._2.sizeCompare(fanout) >= 0)
        .foreach { case (_, group) =>
          written += mergeRuns(group)
          merged = true // cascade: the new run may fill the next class
        }
    }
    _compactBytes.addAndGet(written)
    written
  }

  /** Merge one size-class group into a single run at a fresh negative
    * label. Below ~2 bucket files of hashes (`rowBound < 2·bucketRows`)
    * the merge runs on the driver with no Spark job: the inputs' `h`
    * values (their driver-held arrays, or their parquet files when not
    * held) are deduplicated, written as one file and kept as the new
    * run's driver-held array. Above it the merged run is hash-BUCKETED
    * (`b = pmod(h, N)` partitions) by a Spark job, so [[dedupEpoch]]'s
    * verification can read candidate buckets instead of the whole tier;
    * inputs are read per-run (mixed raw/bucketed layouts), and the bucket
    * repartition rides on the distinct's exchange output (each bucket
    * file written whole by one task). Either way the inputs are deleted
    * only after the staged write — data, weight and, when bucketed, bucket
    * count and bloom — is complete, keeping the crash window's only
    * artifacts harmless duplicates.
    */
  private def mergeRuns(group: Seq[(Long, Long)]): Long = {
    val label = math.min(0L, epochs().min) - 1
    val out = runDir(label)
    // parquet footer row counts: an upper bound on the merged distinct
    // cardinality (exact unless a torn compaction left duplicate runs),
    // cheap enough to pick the path and size buckets and bloom up front
    val rowBound = group.map { case (e, _) => rowCountOf(e) }.sum
    val weight = group.map(_._2).sum.toString
    if (rowBound < 2 * bucketRows) {
      val all = new mutable.ArrayBuilder.ofLong
      group.foreach { case (e, _) =>
        runHashes.get(e).fold(readHashes(e, all))(all ++= _)
      }
      val merged = sortedDistinct(all.result())
      Files.createDirectory(out) // a fresh label: never an existing run
      writeHashes(out, merged)
      Files.writeString(out.resolve("_run_weight"), weight)
      runHashes(label) = merged
    } else {
      val nb = math.ceil(rowBound.toDouble / bucketRows).toInt
      group.map { case (e, _) => readRun(e, None) }
        .reduce(_.union(_)).distinct()
        .withColumn("b", pmod(col("h"), lit(nb)).cast("int"))
        .repartition(col("b"))
        .write.partitionBy("b").mode("error").parquet(uriOf(out))
      Files.writeString(out.resolve("_run_weight"), weight)
      Files.writeString(out.resolve("_nbuckets"), nb.toString)
      writeBloom(out, sparkBloomOf(out, rowBound))
    }
    onBeforeDelete()
    group.foreach { case (e, _) =>
      deleteRecursively(runDir(e))
      evictCached(e)
    }
    dirBytes(out)
  }

  /** Epoch count a run represents (its `_run_weight` sidecar; raw = 1). */
  private def weightOf(e: Long): Long = {
    val p = runDir(e).resolve("_run_weight")
    if (Files.exists(p)) Files.readString(p).trim.toLong else 1L
  }

  /** Bucket-partition count of a run (its `_nbuckets` sidecar; raw and
    * small merged runs = 1).
    */
  private def nBucketsOf(e: Long): Int = {
    val p = runDir(e).resolve("_nbuckets")
    if (Files.exists(p)) Files.readString(p).trim.toInt else 1
  }

  /** ⌊log_fanout(weight)⌋ by integer division (no float edge cases). */
  private def sizeClass(w: Long, fanout: Int): Int = {
    var c = 0
    var x = w
    while (x >= fanout) { x /= fanout; c += 1 }
    c
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try {
      var total = 0L
      val it = st.iterator()
      while (it.hasNext) {
        val f = it.next()
        if (Files.isRegularFile(f)) total += Files.size(f)
      }
      total
    } finally st.close()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      try {
        val it = st.iterator()
        while (it.hasNext) deleteRecursively(it.next())
      } finally st.close()
    }
    Files.deleteIfExists(p)
  }

  /** A run's data files: the `.parquet` files a Spark read of the run
    * lists — at the top level of a raw run or under a bucketed run's `b=`
    * directories, with no `_`- or `.`-prefixed name on the way, so a
    * hidden temp file or `_temporary` directory left by a crashed write is
    * never read.
    */
  private def dataFilesOf(e: Long): Seq[Path] = {
    val run = runDir(e)
    if (!Files.isDirectory(run)) return Nil
    val st = Files.walk(run)
    try st.iterator().asScala.filter { f =>
      Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
        run.relativize(f).iterator().asScala.forall { part =>
          val name = part.toString
          !name.startsWith("_") && !name.startsWith(".")
        }
    }.toList
    finally st.close()
  }

  /** Driver-side parquet access: plain options, no Hadoop configuration. */
  private lazy val readOptions =
    ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  private def openFile(f: Path): ParquetFileReader =
    ParquetFileReader.open(new LocalInputFile(f), readOptions)

  /** Row count of a run from its parquet footers, read on the driver (no
    * Spark job).
    */
  private[graft] def rowCountOf(e: Long): Long =
    dataFilesOf(e).map { f =>
      val r = openFile(f)
      try r.getRecordCount finally r.close()
    }.sum

  /** Append every `h` value of run `e` to `into`, read on the driver (no
    * Spark job) column-chunk by column-chunk.
    */
  private def readHashes(e: Long, into: mutable.ArrayBuilder.ofLong): Unit =
    dataFilesOf(e).foreach { f =>
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

  /** Write `hashes` as the run's one data file, `h BIGINT` as Spark
    * writes it: to a hidden temp name (invisible to every reader), then an
    * atomic rename. Plain-encoded and uncompressed — distinct 64-bit
    * hashes neither compress nor repeat.
    */
  private def writeHashes(runDir: Path, hashes: Array[Long]): Unit = {
    val name = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
    val tmp = runDir.resolve(s".$name")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withConf(new PlainParquetConfiguration())
      .withType(SeenHashIndex.HashSchema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .withDictionaryEncoding(false)
      .build()
    val rows = new SimpleGroupFactory(SeenHashIndex.HashSchema)
    try hashes.foreach(h => w.write(rows.newGroup().append("h", h)))
    finally w.close()
    Files.move(tmp, runDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
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
  private def sparkBloomOf(runDir: Path, expectedItems: Long): BloomFilter =
    spark.read.schema("h BIGINT").parquet(uriOf(runDir))
      .stat.bloomFilter("h", math.max(1L, expectedItems), bloomFpp)

  private def writeBloom(runDir: Path, bf: BloomFilter): Unit = {
    val os = Files.newOutputStream(runDir.resolve("_bloom"))
    try bf.writeTo(os) finally os.close()
  }

  /** A bucketed run's bloom, loaded on the driver and cached per label. A
    * missing sidecar self-heals (rebuilt from parquet, then cached);
    * rebuild failure degrades to None = every hash is a candidate.
    */
  private val bloomCache = mutable.Map[Long, Option[BloomFilter]]()

  private def bloomFor(label: Long): Option[BloomFilter] =
    bloomCache.getOrElseUpdate(label, {
      val run = runDir(label)
      val p = run.resolve("_bloom")
      try {
        if (!Files.exists(p)) writeBloom(run, sparkBloomOf(run, rowCountOf(label)))
        val is = Files.newInputStream(p)
        try Some(BloomFilter.readFrom(is)) finally is.close()
      } catch { case _: Exception => None }
    })

  /** An unbucketed run's hashes, sorted and distinct, held on the driver
    * per label: filled by the driver writes ([[appendKnownDistinct]], the
    * driver merge) from the arrays they wrote, or read from the run's
    * parquet on first touch (a reopened index). See the class doc for the
    * memory bound.
    */
  private val runHashes = mutable.Map[Long, Array[Long]]()

  private def hashesOf(label: Long): Array[Long] =
    runHashes.getOrElseUpdate(label, {
      val all = new mutable.ArrayBuilder.ofLong
      readHashes(label, all)
      sortedDistinct(all.result())
    })

  private def evictCached(label: Long): Unit = {
    bloomCache.remove(label)
    runFrameCache.remove(label)
    runHashes.remove(label)
  }

  /** The bus epoch stage over (id, data, ts) message frames, string ids:
    * keep the first copy per payload hash WITHIN the epoch (min id, nulls
    * first), drop the copies whose hash is already in the index, then
    * append the survivors' hashes as this epoch's partition. Wire as
    * `epochProcess = Some((df, e) => route(idx.dedupEpoch(df, e)))`.
    *
    * Lookup shape (see class doc): the batch tagged with its payload hash
    * and a row id, lazily checkpointed → ONE job collecting (hash, id, row
    * id, payload length) that also fills the checkpoint → the driver picks
    * each hash's first copy and probes the distinct hashes (driver-held
    * arrays, then blooms and ONE verification job only if a bucketed run
    * may hold one) → the checkpoint filtered by `NOT InSet(dropped row
    * ids)`. The survivor hashes are written on the driver from the
    * driver-held array. Work per epoch is bounded by the batch (+
    * fpp·|batch| false-positive reads per bucketed run), independent of
    * total index size.
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
    // the lookup then lists a bounded directory set. Compacting here (vs a
    // side thread) keeps the single-writer invariant for free.
    if (compactEvery > 0 && epochs().count(_ < epochId) >= compactEvery)
      compact(epochId)
    // materialize once: the collect below computes the tagged rows into
    // the checkpoint, which the returned frame then reads — the source is
    // read once, and the row ids the driver picks by stay fixed
    val tagged = batch.withColumn("__h", xxhash64(col("data")))
      .withColumn("__rid", monotonically_increasing_id())
      .transform(checkpointTracked)
    // read as the plan's own internal rows: no encoder and no SQL
    // execution around this bookkeeping collect
    val rows = tagged.select(col("__h"), col("id").cast("binary"), col("__rid"),
        coalesce(octet_length(col("data")), lit(0)))
      .queryExecution.executedPlan.executeCollect()
      .map(r => SeenHashIndex.Tag(r.getLong(0),
        if (r.isNullAt(1)) null else r.getBinary(1), r.getLong(2), r.getInt(3)))
    val first = mutable.LongMap[Int]() // hash -> index of its first copy
    for (i <- rows.indices) {
      val j = first.getOrElse(rows(i).h, -1)
      if (j < 0 || SeenHashIndex.precedes(rows(i), rows(j))) first(rows(i).h) = i
    }
    val hashes = first.keys.toArray
    val seen = seenOf(hashes, epochId)
    appendKnownDistinct(hashes.filterNot(seen), epochId)
    val dropped = Set.newBuilder[Any]
    var keptBytes = 0L
    for (i <- rows.indices) {
      val r = rows(i)
      if (first(r.h) == i && !seen(r.h)) keptBytes += r.len else dropped += r.rid
    }
    val droppedSet = dropped.result()
    val kept =
      if (droppedSet.isEmpty) tagged
      else tagged.filter(!GraftBridge.inSet(col("__rid"), droppedSet))
    // the partitioning AQE gave the old window exchange's output: one
    // partition per advisory size of payload, so each destination's write
    // runs as one task per partition, not one per source split
    val advisory = GraftBridge.advisoryPartitionBytes(spark)
    val parts = math.max(1L, (keptBytes + advisory - 1) / advisory)
    kept.drop("__h", "__rid").coalesce(parts.toInt)
  }

  /** The subset of `hashes` present in runs below `epochId`: unbucketed
    * runs answer exactly from their driver-held arrays; bucketed runs by a
    * driver-side bloom probe, then one verification job over the touched
    * buckets (no job when no bucketed run may hold a hash).
    */
  private def seenOf(hashes: Array[Long], epochId: Long): Set[Long] = {
    // a set: a torn compaction can leave the same hash in two runs
    val seen = mutable.HashSet[Long]()
    val candidates = mutable.HashSet[Long]()
    val touched = epochs().filter(_ < epochId).sorted.flatMap { label =>
      val nb = nBucketsOf(label)
      if (nb == 1) {
        val run = hashesOf(label)
        hashes.foreach(h => if (java.util.Arrays.binarySearch(run, h) >= 0) seen += h)
        None
      } else {
        val bloom = bloomFor(label)
        val buckets = mutable.SortedSet[Int]()
        hashes.foreach { h =>
          if (bloom.forall(_.mightContainLong(h))) {
            candidates += h
            buckets += (((h % nb) + nb) % nb).toInt
          }
        }
        if (buckets.isEmpty) None else Some(readRun(label, Some(buckets.toSeq)))
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
    val out = runDir(epochId)
    deleteRecursively(out) // a replay overwrites its previous attempt
    Files.createDirectories(out)
    writeHashes(out, hashes)
    // replay overwrite ⇒ anything cached for this label is stale
    evictCached(epochId)
    runHashes(epochId) = hashes
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

  /** A run's file schema: the one column Spark writes for `h BIGINT`. */
  private val HashSchema =
    MessageTypeParser.parseMessageType("message spark_schema { optional int64 h; }")

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
