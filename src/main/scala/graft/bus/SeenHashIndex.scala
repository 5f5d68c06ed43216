package graft.bus

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *   1. '''Bloom sidecars, probed on the driver.''' Every run carries a
  *      `_bloom` sidecar (Spark's 64-bit-hash sketch, fpp 1e-5 — the
  *      `bloomFpp` default below, ~24 bits/hash). An epoch's distinct
  *      hashes are collected to the driver once and probed against the
  *      driver-held blooms, with no Spark job and no broadcast; only
  *      (hash, run) pairs the bloom cannot rule out — true duplicates plus
  *      ~fpp·|batch| false positives per run — go to exact verification. A
  *      bloom has NO false negatives, so every truly-seen hash reaches
  *      verification: the final answer stays exact, the sketch only prunes
  *      reads. The collect is bounded by the micro-batch's distinct-hash
  *      count — trigger-bounded by A3's
  *      maxFilesPerTrigger/maxOffsetsPerTrigger, the same knob that
  *      bounds every other per-epoch resource.
  *   2. '''Hash-bucketed merged runs, bucket-pruned verification.'''
  *      Compaction lays a merged run out as `b=pmod(h, N)/` partitions
  *      (N sized for ~256 k hashes per bucket file, `_nbuckets` sidecar).
  *      Verification reads ONLY the buckets named by surviving
  *      candidates: a big tier hit by `c` false positives costs ≤ c
  *      bucket files (~2 MB each), not a 67 M-row scan. Raw epoch runs
  *      stay single-file — they are batch-sized by construction, so
  *      reading one whole is already ∝ batch.
  *   3. '''One materialization, broadcast-side joins, zero index
  *      shuffle.''' Each epoch hashes its payloads and picks the in-epoch
  *      first copy ONCE, into one checkpointed frame; the source is never
  *      read again. The pruned index slice is probed with
  *      `LEFT SEMI JOIN broadcast(candidates)` (index rows stream in place
  *      against an in-memory set ≤ |batch|) in the epoch's one
  *      verification job, and survivors come from
  *      `firsts LEFT ANTI JOIN broadcast(seen)`. Both joins broadcast the
  *      SMALL side: a LEFT ANTI join can never broadcast its left (batch)
  *      side, so `batch ANTI index` would shuffle the whole index.
  *
  * A run whose `_bloom` sidecar is missing (legacy layout, or a crash
  * between the parquet commit and the sidecar write) degrades safely:
  * every batch hash is a candidate for it (full-read verification, still
  * exact); [[bloomFor]] self-heals by rebuilding the sidecar from the
  * run's parquet on first touch.
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
  * `common/unacked.go`).
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
  * @param bloomFpp per-run Bloom false-positive rate. The steady-state
  *   verification read is ~fpp·|batch|·bucketRows rows per big tier per
  *   epoch (each false positive drags in one bucket file), so fpp is the
  *   read-amplification dial, not just a memory knob: 1e-5 ⇒ ~24 bits
  *   (~3 B) per hash and ~2 spurious bucket reads per tier per 200 k-row
  *   epoch.
  * @param bucketRows target hashes per bucket file in merged runs; also
  *   the threshold below which a merged run stays unbucketed. Smaller
  *   buckets shrink the per-false-positive read but multiply file count
  *   (listing cost on an object store): 2^17 ⇒ ~1 MB files, ~700 per
  *   90 M-hash tier.
  */
final class SeenHashIndex(spark: SparkSession, dir: String,
    compactEvery: Int = 0, bloomFpp: Double = 1e-5,
    bucketRows: Long = 1L << 17) {

  import spark.implicits._

  /** Hashes ingested before `epochId` (empty frame if no prior epoch) —
    * the FULL logical view, one per-run streaming scan unioned (runs are
    * mixed-layout: raw single-file and bucketed merged dirs cannot share
    * one partition-discovery read). Audit/test surface; [[dedupEpoch]]
    * itself reads bloom-and-bucket-pruned slices instead.
    */
  def seenBefore(epochId: Long): DataFrame = {
    val runs = epochs().filter(_ < epochId)
    if (runs.isEmpty) emptyHashes
    else runs.map(readRun(_, None)).reduce(_.union(_))
  }

  private def emptyHashes: DataFrame =
    spark.range(0).select(col("id").as("h"))

  /** One run's hashes; `buckets = Some(bs)` prunes a bucketed run to the
    * named `b=` partitions (no-op selector on an unbucketed run — its
    * only "bucket" is 0 and every candidate names it).
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
      spark.read.schema("h BIGINT").parquet(s"$dir/epoch=$label"))
    val pruned = (buckets, nBucketsOf(label)) match {
      case (Some(bs), nb) if nb > 1 => base.filter(col("b").isin(bs: _*))
      case _ => base
    }
    pruned.select("h")
  }

  /** Record `hashes` as epoch `epochId`'s survivors (overwrite = replay
    * idempotent), then stage the run's `_bloom` sidecar from the
    * just-written parquet (so the bloom is decoupled from the caller's
    * plan — one metadata count + one batch-sized scan).
    */
  def append(hashes: DataFrame, epochId: Long): Unit = {
    val out = s"$dir/epoch=$epochId"
    hashes.toDF("h").distinct()
      .write.mode("overwrite").parquet(out)
    writeBloom(out)
    // replay overwrite ⇒ any cached bloom/frame for this label is stale
    evictCached(epochId)
  }

  /** Epoch partition values currently on disk. */
  def epochs(): Seq[Long] = {
    val root = Paths.get(dir)
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
    * folds in and `distinct()` dedups). No recovery step exists because
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
    * label — hash-BUCKETED (`b = pmod(h, N)` partitions) once the merged
    * size clears ~2 bucket files, so [[dedupEpoch]]'s verification can
    * read candidate buckets instead of the whole tier. Inputs are read
    * per-run (mixed raw/bucketed layouts), the bucket repartition rides
    * on the distinct's exchange output (one extra batch of bucket-count
    * files, each written whole by one task). Deletes the inputs only
    * after the staged write — data, weight, bucket count AND bloom — is
    * complete, keeping the crash window's only artifacts harmless
    * duplicates.
    */
  private def mergeRuns(group: Seq[(Long, Long)]): Long = {
    val label = math.min(0L, epochs().min) - 1
    val out = s"$dir/epoch=$label"
    // parquet footer row counts: an upper bound on the merged distinct
    // cardinality (exact unless a torn compaction left duplicate runs),
    // cheap enough to size buckets and bloom before the merge job runs
    val rowBound = group.map { case (e, _) => rowCountOf(e) }.sum
    val nb = if (rowBound >= 2 * bucketRows)
      math.ceil(rowBound.toDouble / bucketRows).toInt else 1
    val mergedRows = group.map { case (e, _) => readRun(e, None) }
      .reduce(_.union(_)).distinct()
    if (nb > 1)
      mergedRows.withColumn("b", pmod(col("h"), lit(nb)).cast("int"))
        .repartition(col("b"))
        .write.partitionBy("b").mode("error").parquet(out)
    else mergedRows.write.mode("error").parquet(out)
    Files.writeString(Paths.get(out, "_run_weight"),
      group.map(_._2).sum.toString)
    if (nb > 1) Files.writeString(Paths.get(out, "_nbuckets"), nb.toString)
    writeBloom(out, expectedItems = math.max(1L, rowBound))
    onBeforeDelete()
    group.foreach { case (e, _) =>
      deleteRecursively(Paths.get(s"$dir/epoch=$e"))
      evictCached(e)
    }
    dirBytes(Paths.get(out))
  }

  /** Epoch count a run represents (its `_run_weight` sidecar; raw = 1). */
  private def weightOf(e: Long): Long = {
    val p = Paths.get(s"$dir/epoch=$e", "_run_weight")
    if (Files.exists(p)) Files.readString(p).trim.toLong else 1L
  }

  /** Bucket-partition count of a run (its `_nbuckets` sidecar; raw and
    * small merged runs = 1).
    */
  private def nBucketsOf(e: Long): Int = {
    val p = Paths.get(s"$dir/epoch=$e", "_nbuckets")
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

  /** Row count of a run from its parquet footers, read on the driver (no
    * Spark job). Data files are the visible `.parquet` files, at the top
    * level of a raw run or under a bucketed run's `b=` directories.
    */
  private def rowCountOf(e: Long): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val st = Files.walk(Paths.get(s"$dir/epoch=$e"))
    try {
      var rows = 0L
      val it = st.iterator()
      while (it.hasNext) {
        val f = it.next()
        val name = f.getFileName.toString
        if (Files.isRegularFile(f) && name.endsWith(".parquet") &&
            !name.startsWith("_") && !name.startsWith(".")) {
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(new HPath(f.toUri), conf))
          try rows += r.getRecordCount finally r.close()
        }
      }
      rows
    } finally st.close()
  }

  /** Build and stage `runDir/_bloom` from the run's own parquet. */
  private def writeBloom(runDir: String, expectedItems: Long = -1L): Unit = {
    val df = spark.read.parquet(runDir)
    val n = if (expectedItems > 0) expectedItems else math.max(1L, df.count())
    val bf = df.stat.bloomFilter("h", n, bloomFpp)
    val os = Files.newOutputStream(Paths.get(runDir, "_bloom"))
    try bf.writeTo(os) finally os.close()
  }

  /** The run's bloom, loaded on the driver and cached per label. A missing
    * sidecar on a run self-heals (rebuilt from parquet, then cached);
    * rebuild failure degrades to None = every hash is a candidate.
    */
  private val bloomCache = mutable.Map[Long, Option[BloomFilter]]()

  private def bloomFor(label: Long): Option[BloomFilter] =
    bloomCache.getOrElseUpdate(label, {
      val p = Paths.get(s"$dir/epoch=$label", "_bloom")
      try {
        if (!Files.exists(p)) writeBloom(s"$dir/epoch=$label")
        val is = Files.newInputStream(p)
        try Some(BloomFilter.readFrom(is)) finally is.close()
      } catch { case _: Exception => None }
    })

  private def evictCached(label: Long): Unit = {
    bloomCache.remove(label)
    runFrameCache.remove(label)
  }

  /** The bus epoch stage over (id, data, ts) message frames: keep the first
    * copy per payload hash WITHIN the epoch (min id, nulls first), drop the
    * copies whose hash is already in the index, then append the survivors'
    * hashes as this epoch's partition. Wire as
    * `epochProcess = Some((df, e) => route(idx.dedupEpoch(df, e)))`.
    *
    * Lookup shape (see class doc): `firsts` = hash + first-copy window,
    * materialized once → its hashes collected to the driver → driver-side
    * bloom probe naming the touched (run, bucket) pairs and the candidate
    * hashes → ONE job reading the bucket-pruned runs LEFT SEMI joined
    * against the broadcast candidates, collected as `seen` →
    * `firsts LEFT ANTI broadcast(seen)`. The survivor hashes and their
    * bloom come from the driver-held arrays. Work per epoch is bounded by
    * the batch's distinct hashes (+ fpp·|batch| false-positive reads per
    * run), independent of total index size. Filtering seen hashes after
    * the window is equivalent to before it: all copies of a hash are seen
    * or none are.
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
    val w = Window.partitionBy("__h").orderBy(asc_nulls_first("id"))
    // materialize once: the first copies feed the hash collect AND the
    // returned frame, and the source must not be read twice
    val firsts = batch.withColumn("__h", xxhash64(col("data")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .transform(checkpointTracked)
    val hashes = firsts.select("__h").as[Long].collect()
    val seen = seenOf(hashes, epochId)
    val survivors = hashes.filterNot(seen.contains)
    appendKnownDistinct(survivors, epochId)
    val kept =
      if (seen.isEmpty) firsts
      else firsts.join(broadcast(seen.toSeq.toDF("__h")), Seq("__h"), "left_anti")
    kept.drop("__h")
  }

  /** The subset of `hashes` present in runs below `epochId`: a driver-side
    * bloom probe, then one verification job over the touched buckets.
    */
  private def seenOf(hashes: Array[Long], epochId: Long): Set[Long] = {
    val candidates = mutable.HashSet[Long]()
    val touched = epochs().filter(_ < epochId).sorted.flatMap { label =>
      val nb = nBucketsOf(label)
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
    if (touched.isEmpty) Set.empty
    else touched.reduce(_.union(_))
      .join(broadcast(candidates.toSeq.toDF("h")), Seq("h"), "left_semi")
      // a torn compaction can leave the same hash in two runs
      .as[Long].collect().toSet
  }

  /** Write `hashes` (distinct by construction) as epoch `epochId`'s run —
    * one file, overwrite = replay idempotent — with its `_bloom` built from
    * the same driver-held array: no re-distinct shuffle, no read-back scan.
    */
  private def appendKnownDistinct(hashes: Array[Long], epochId: Long): Unit = {
    val out = s"$dir/epoch=$epochId"
    hashes.toSeq.toDF("h").coalesce(1).write.mode("overwrite").parquet(out)
    val bf = BloomFilter.create(math.max(1L, hashes.length.toLong), bloomFpp)
    hashes.foreach(bf.putLong)
    val os = Files.newOutputStream(Paths.get(out, "_bloom"))
    try bf.writeTo(os) finally os.close()
    evictCached(epochId)
  }

  /** localCheckpoint with its materialized RDD ids recorded, so the NEXT
    * epoch can free them (see [[dedupEpoch]]). The ids are read from the
    * returned frame's OWN plan (its LogicalRDD nodes): a
    * getPersistentRDDs-set diff could capture a CONCURRENT stream's RDD
    * persisted inside the bracket, and unpersisting a stranger's
    * localCheckpointed RDD (truncated lineage) crashes that query's later
    * access instead of recomputing.
    */
  private var prevEpochBlocks: Seq[Int] = Nil

  private def checkpointTracked(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    prevEpochBlocks ++= org.apache.spark.sql.GraftBridge.checkpointedRddIds(out)
    out
  }
}
