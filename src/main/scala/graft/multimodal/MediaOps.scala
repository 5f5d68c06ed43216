package graft.multimodal

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Batched multimodal operators over MediaItem datasets.
  *
  * Execution shape (the part that must be real at 100 TB):
  *   - every operator is `mapPartitions` over a typed Dataset: one
  *     decoder/codec instance per partition, amortized across the batch —
  *     the Scala analog of a vectorized pandas-batch UDF;
  *   - payload bytes flow executor-local only; nothing collects to the
  *     driver;
  *   - metadata-only pipelines (filters on media_type/width/duration)
  *     never touch `content` — the media table is real parquet, so column
  *     pruning skips the heavy binary column entirely;
  *   - repartition knob on decode: media payloads are large and skewed, so
  *     decode fans out to `parallelism` partitions sized for executor
  *     memory, independent of the upstream file layout.
  *
  * CODEC STATUS: all three modalities are REAL. Images: actual PNG bytes,
  * decoded with JDK `javax.imageio` (dims, Rec.601 luminance, bilinear
  * resize + re-encode). Audio: RIFF/WAVE 16-bit PCM, decoded with JDK
  * `javax.sound.sampled` (per-chunk RMS and Goertzel band spectra over
  * true samples). Video: MJPEG-in-AVI, demuxed by [[VideoCodec]]'s RIFF
  * chunk walker — sampled frames are the actual JPEGs the stream carries,
  * decoded to pixels by the same ImageIO path as still images. Features
  * are content descriptors over decoded pixels/samples (a learned encoder
  * would replace the descriptor kernels; the mapPartitions shape is the
  * one it needs). `FakeCodec` remains ONLY as the degraded fallback for
  * payloads no codec recognizes.
  */
object MediaOps {

  /** Byte count of each media fixture cache directory, computed once. */
  private val cacheBytes =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, java.lang.Long]()

  /** Full-64-bit content hash for UNDECODABLE payloads: two 32-bit
    * murmur passes under different seeds packed into one long. A single
    * 32-bit murmur sign-extended to Long birthday-collides from ~10^5
    * rows — distinct corrupt payloads would CLUSTER if any consumer
    * groups fallback rows, breaking the "fallbacks never cluster"
    * contract the dup censuses rely on. */
  private def fallbackHash64(bytes: Array[Byte]): Long = {
    import scala.util.hashing.MurmurHash3
    (MurmurHash3.bytesHash(bytes, 0).toLong << 32) |
      (MurmurHash3.bytesHash(bytes, 1).toLong & 0xFFFFFFFFL)
  }


  /** Deterministic degraded fallback for payloads NO real codec recognizes
    * (corrupt bytes, foreign containers), so they degrade instead of
    * failing a partition. Every recognized modality takes a real path:
    * ImageCodec (ImageIO), AudioCodec (javax.sound + Goertzel),
    * VideoCodec (RIFF/MJPEG demux).
    */
  object FakeCodec {
    def decodeDims(bytes: Array[Byte]): (Int, Int) = {
      // fallback only — real images take the ImageCodec path.
      val h = java.util.Arrays.hashCode(bytes)
      (math.floorMod(h, 1024) + 32, math.floorMod(h >> 10, 1024) + 32)
    }

    def meanLuma(bytes: Array[Byte]): Double = {
      // fallback only — real images take the ImageCodec path.
      if (bytes.isEmpty) 0.0
      else bytes.iterator.map(b => (b & 0xff).toDouble).sum / bytes.length / 255.0
    }

    def decodeSamples(bytes: Array[Byte], from: Int, until: Int): Array[Double] = {
      // fallback only — real WAV payloads take the AudioCodec path. Fake:
      // centered byte amplitudes in [-1, 1], stable per position.
      (from until math.min(until, bytes.length)).map { i =>
        ((bytes(i) & 0xff) - 128) / 128.0
      }.toArray
    }

    def embed(bytes: Array[Byte], dim: Int): Array[Float] = {
      // fallback only — recognized payloads get content descriptors over
      // DECODED pixels/samples (contentFeatures). Fake: bucketed byte
      // histogram, L2-normalized — deterministic and non-degenerate.
      val acc = new Array[Float](dim)
      var i = 0
      while (i < bytes.length) {
        acc((bytes(i) & 0xff) % dim) += 1f
        i += 1
      }
      val n = math.sqrt(acc.iterator.map(x => x.toDouble * x.toDouble).sum)
      if (n > 0) acc.map(x => (x / n).toFloat) else acc
    }
  }

  /** Decode image payloads to (dims, pixel stats). One codec instance per
    * partition; payloads repartitioned to bound per-task memory. Real
    * ImageIO decode; non-decodable payloads degrade to the FakeCodec
    * fallback instead of failing the task.
    */
  def decodeImages(media: Dataset[MediaItem], parallelism: Int = 0): Dataset[DecodedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parted = if (parallelism > 0) media.repartition(parallelism) else media
    parted
      .filter(col("media_type").startsWith("image/"))
      .mapPartitions { it =>
        it.map { m =>
          ImageCodec.decode(m.content) match {
            case Some(img) =>
              DecodedImage(m.media_id, img.getWidth, img.getHeight,
                img.getWidth.toLong * img.getHeight, ImageCodec.meanLuma(img),
                decoded_ok = true)
            case None =>
              val (w0, h0) = if (m.width > 0 && m.height > 0) (m.width, m.height)
                else FakeCodec.decodeDims(m.content)
              DecodedImage(m.media_id, w0, h0, w0.toLong * h0,
                FakeCodec.meanLuma(m.content), decoded_ok = false)
          }
        }
      }
  }

  /** Perceptual dHash per image row (ImageCodec.dHash64 over real decoded
    * pixels) — the cheap first tier of image near-dup: lossless
    * re-encodes and brightness shifts of the same picture collide on the
    * same 64-bit key (resizes land within a few bits — see the codec
    * scaladoc), so exact-hash grouping (one map-side-combined shuffle of
    * 8-byte keys — pixels never shuffle) finds them at any corpus size.
    * Non-decodable payloads get a content-bytes fallback hash with
    * decoded_ok=false so they can never cluster with genuine pixel
    * hashes (the fallback is content-derived, not constant — a million
    * corrupt rows must not form one giant fake dup cluster).
    */
  def perceptualHash(media: Dataset[MediaItem], parallelism: Int = 0): Dataset[ImageHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parted = if (parallelism > 0) media.repartition(parallelism) else media
    parted
      .filter(col("media_type").startsWith("image/"))
      .mapPartitions { it =>
        it.map { m =>
          ImageCodec.decode(m.content) match {
            case Some(img) =>
              ImageHash(m.media_id, ImageCodec.dHash64(img), decoded_ok = true)
            case None =>
              ImageHash(m.media_id,
                fallbackHash64(m.content),
                decoded_ok = false)
          }
        }
      }
  }

  /** Audio twin of [[perceptualHash]]: AudioCodec.audioHash64 over real
    * decoded PCM — volume- and encoding-invariant spectral fingerprint,
    * same 8-byte-keys-only shuffle shape and the same content-derived
    * fallback contract for payloads the WAV codec rejects.
    */
  def audioFingerprint(media: Dataset[MediaItem], parallelism: Int = 0): Dataset[AudioHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parted = if (parallelism > 0) media.repartition(parallelism) else media
    parted
      .filter(col("media_type").startsWith("audio/"))
      .mapPartitions { it =>
        it.map { m =>
          AudioCodec.decodeWavPcm16(m.content) match {
            case Some((samples, _)) =>
              AudioHash(m.media_id, AudioCodec.audioHash64(samples),
                decoded_ok = true)
            case None =>
              AudioHash(m.media_id,
                fallbackHash64(m.content),
                decoded_ok = false)
          }
        }
      }
  }

  /** Video member of the fingerprint family: dHash64 of up to 4
    * uniformly-sampled REAL demuxed frames, mixed order-sensitively into
    * one 64-bit key (a reversed clip must not collide). Container
    * re-muxes of the same frame JPEGs hash exactly equal (the demuxer
    * returns the embedded bytes verbatim); payloads that do not demux —
    * or demux to zero decodable frames — take the content-derived
    * fallback with decoded_ok=false, never an empty-fold constant (all
    * corrupt clips colliding on one fake cluster).
    */
  def videoFingerprint(media: Dataset[MediaItem], nFrames: Int = 4,
      parallelism: Int = 0): Dataset[VideoHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parted = if (parallelism > 0) media.repartition(parallelism) else media
    parted
      .filter(col("media_type").startsWith("video/"))
      .mapPartitions { it =>
        it.map { m =>
          val frameHashes = VideoCodec.demux(m.content).toSeq.flatMap { s =>
            val dur = math.max(1L, s.durationMs)
            (0 until nFrames).flatMap { i =>
              val idx = s.frameIndexAt(dur * i / nFrames)
              ImageCodec.decode(VideoCodec.frameBytes(m.content, s, idx))
                .map(ImageCodec.dHash64)
            }
          }
          if (frameHashes.nonEmpty) {
            // order-sensitive mix (golden-ratio rotate-xor fold)
            val h = frameHashes.foldLeft(0x9e3779b97f4a7c15L) { (acc, fh) =>
              java.lang.Long.rotateLeft(acc, 7) ^ (fh * 0xc2b2ae3d27d4eb4fL)
            }
            VideoHash(m.media_id, h, decoded_ok = true)
          } else VideoHash(m.media_id,
            fallbackHash64(m.content),
            decoded_ok = false)
        }
      }
  }

  /** The Hamming tier over [[perceptualHash]]: pairs of decoded images
    * whose dHashes differ in ≤ maxHamming bits — catches the resized /
    * slightly-altered variants exact-hash grouping misses. Candidate
    * generation is pigeonhole banding (the 64-bit hash splits into 4
    * 16-bit bands; d ≤ 3 < 4 bands guarantees two hashes within d share
    * at least one UNTOUCHED band — recall 1.0, no LSH luck involved),
    * so the join is band-keyed equi (one 10-byte-key shuffle), never
    * all-pairs; the exact popcount filter then keeps precision 1.0.
    * maxHamming must stay < 4 for the guarantee; the band count is the
    * knob to raise for looser thresholds.
    */
  def phashNearDupPairs(hashes: Dataset[ImageHash],
      maxHamming: Int = 3): DataFrame =
    hammingNearDupPairs(hashes.toDF().filter(col("decoded_ok")),
      "phash", maxHamming)

  /** Audio/video faces of the same tier (the banding is hash-agnostic). */
  def ahashNearDupPairs(hashes: Dataset[AudioHash],
      maxHamming: Int = 3): DataFrame =
    hammingNearDupPairs(hashes.toDF().filter(col("decoded_ok")),
      "ahash", maxHamming)
  def vhashNearDupPairs(hashes: Dataset[VideoHash],
      maxHamming: Int = 3): DataFrame =
    hammingNearDupPairs(hashes.toDF().filter(col("decoded_ok")),
      "vhash", maxHamming)

  /** Hash-agnostic core of the Hamming tier: expects (media_id,
    * `hashCol`) rows — callers filter fallback rows FIRST (the typed
    * wrappers do). Pigeonhole over 4×16-bit bands ⇒ guaranteed recall
    * for d < 4; see [[phashNearDupPairs]]'s scaladoc for the argument.
    */
  def hammingNearDupPairs(hashes: DataFrame, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"pigeonhole over 4 bands guarantees recall only for d < 4, got $maxHamming")
    val ok = hashes.select(col("media_id"), col(hashCol).as("h"))
    val banded = ok.select(col("media_id"), col("h"),
      explode(expr("transform(sequence(0, 3), b -> " +
        "struct(b AS band, shiftright(h, b * 16) & 65535 AS key))"))
        .as("bk"))
      .select(col("media_id"), col("h"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"),
        bit_count(expr("a.h").bitwiseXOR(expr("b.h")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a close pair shares several untouched bands
  }

  /** Resize: decode, scale the longer side down to `maxSide` preserving
    * aspect (never upscale), re-encode PNG. Already-small images keep their
    * original bytes (no pointless re-encode), which also makes resize
    * idempotent at the same maxSide.
    */
  def resize(media: Dataset[MediaItem], maxSide: Int): Dataset[MediaItem] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        ImageCodec.decode(m.content) match {
          case Some(img) =>
            val (w0, h0) = (img.getWidth, img.getHeight)
            val scale = math.min(1.0, maxSide.toDouble / math.max(w0, h0))
            if (scale >= 1.0) m.copy(width = w0, height = h0)
            else {
              val (w1, h1) = (math.max(1, (w0 * scale).toInt), math.max(1, (h0 * scale).toInt))
              m.copy(content = ImageCodec.encodePng(ImageCodec.scaleTo(img, w1, h1)),
                width = w1, height = h1)
            }
          case None =>
            // non-image payloads: metadata-only rescale (fallback path)
            val (w0, h0) = if (m.width > 0 && m.height > 0) (m.width, m.height)
              else FakeCodec.decodeDims(m.content)
            val scale = math.min(1.0, maxSide.toDouble / math.max(w0, h0))
            val (w1, h1) = (math.max(1, (w0 * scale).toInt), math.max(1, (h0 * scale).toInt))
            m.copy(width = w1, height = h1)
        }
      }
    }
  }

  /** Extract a fixed-dim feature vector per media item — the bridge into
    * the similarity/ANN operators (graft.ops.Similarity). Every decodable
    * modality gets a CONTENT descriptor (invariant to the payload's
    * encoding, unlike any byte statistic):
    *   - images: luminance histogram over the real decoded pixels;
    *   - audio: Goertzel spectral band energies over the real decoded PCM;
    *   - video: luminance histograms of up to 3 uniformly-sampled REAL
    *     demuxed frames, pooled and renormalized.
    * Only payloads no codec recognizes fall back to the byte-histogram
    * stub. A learned encoder would replace these kernels; the
    * mapPartitions shape (load weights once per partition, batch the
    * forward pass) is already the one it needs.
    */
  def extractFeatures(media: Dataset[MediaItem], dim: Int = 64,
      parallelism: Int = 0): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parted = if (parallelism > 0) media.repartition(parallelism) else media
    parted.mapPartitions { it =>
      // per-partition: real impl loads the encoder weights HERE, once.
      it.map { m =>
        val f = contentFeatures(m.content, dim)
        MediaFeatures(m.media_id, f)
      }
    }
  }

  /** The modality-dispatching feature kernel: image → audio → video codec
    * probes (each probe is a cheap header check that returns None on a
    * foreign container), byte-histogram fallback last.
    */
  private[multimodal] def contentFeatures(bytes: Array[Byte], dim: Int): Array[Float] =
    ImageCodec.decode(bytes) match {
      case Some(img) => ImageCodec.lumaHistogram(img, dim)
      case None =>
        AudioCodec.decodeWavPcm16(bytes) match {
          case Some((samples, _)) => AudioCodec.bandEnergies(samples, dim)
          case None =>
            VideoCodec.demux(bytes) match {
              case Some(s) =>
                // pool ≤3 uniformly-placed real frames: first, middle, last
                val idxs = Seq(0, s.nFrames / 2, s.nFrames - 1).distinct
                val hists = idxs.flatMap { i =>
                  ImageCodec.decode(VideoCodec.frameBytes(bytes, s, i))
                    .map(ImageCodec.lumaHistogram(_, dim))
                }
                if (hists.isEmpty) FakeCodec.embed(bytes, dim)
                else {
                  val acc = new Array[Float](dim)
                  hists.foreach { h =>
                    var i = 0
                    while (i < dim) { acc(i) += h(i); i += 1 }
                  }
                  val n = math.sqrt(acc.iterator.map(v => v.toDouble * v.toDouble).sum)
                  if (n > 0) acc.map(v => (v / n).toFloat) else acc
                }
              case None => FakeCodec.embed(bytes, dim)
            }
        }
    }

  /** Sample up to `n` frames per video payload at uniform timestamps —
    * REAL demux: MJPEG-AVI payloads are parsed by [[VideoCodec]] (RIFF
    * chunk walk), each requested timestamp seeks to its containing frame,
    * and the emitted bytes are the actual JPEG the stream carries (decode
    * with [[ImageCodec.decode]]). Payloads no demuxer recognizes degrade
    * to a stable byte-slice fallback marked `decoded_ok=false` — filterable
    * downstream, never a task failure. Frame extraction is flatMap-shaped:
    * output cardinality is bounded (n per item), executor-local, never
    * driver-side; the demuxer indexes (offset, length) pairs and only the
    * n SELECTED frames are ever copied out of the payload.
    */
  def sampleFrames(media: Dataset[MediaItem], n: Int): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("media_type").startsWith("video/"))
      .mapPartitions { it =>
        it.flatMap { m =>
          VideoCodec.demux(m.content) match {
            case Some(s) =>
              val dur = math.max(1L, s.durationMs)
              (0 until n).iterator.map { i =>
                val idx = s.frameIndexAt(dur * i / n)
                val fb = VideoCodec.frameBytes(m.content, s, idx)
                // decoded_ok means "a JPEG ImageCodec can decode" — the
                // demuxer also collects `##db` (uncompressed DIB) chunks,
                // so sniff the JPEG SOI marker per frame instead of
                // trusting the container.
                val isJpeg = fb.length >= 2 &&
                  (fb(0) & 0xff) == 0xff && (fb(1) & 0xff) == 0xd8
                Frame(m.media_id, i, s.frameMs(idx), fb, decoded_ok = isJpeg)
              }
            case None =>
              // fallback: a stable byte slice keyed by frame index
              val dur = if (m.duration_ms > 0) m.duration_ms else 1000L
              (0 until n).iterator.map { i =>
                val ts = dur * i / n
                val len = math.max(1, m.content.length / n)
                val off = math.min(i * len, math.max(0, m.content.length - len))
                Frame(m.media_id, i, ts,
                  java.util.Arrays.copyOfRange(m.content, off,
                    math.min(off + len, m.content.length)),
                  decoded_ok = false)
              }
          }
        }
      }
  }

  /** Split audio payloads into fixed-duration chunks and compute per-chunk
    * signal stats (RMS) — the audio-modality batch op (flatMap-shaped like
    * sampleFrames: bounded fan-out, executor-local decode). WAV payloads
    * get a real PCM decode (duration and chunk boundaries from the actual
    * samples); non-WAV payloads degrade to the byte-amplitude fallback.
    */
  def chunkAudio(media: Dataset[MediaItem], chunkMs: Long): Dataset[AudioChunk] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("media_type").startsWith("audio/"))
      .mapPartitions { it =>
        // per-partition: the decoder allocates HERE, once per batch.
        it.flatMap { m =>
          AudioCodec.decodeWavPcm16(m.content) match {
            case Some((samples, hz)) =>
              val dur = math.max(1L, samples.length.toLong * 1000 / hz)
              val nChunks = ((dur + chunkMs - 1) / chunkMs).toInt
              (0 until nChunks).iterator.map { i =>
                val startMs = i * chunkMs
                val endMs = math.min(dur, (i + 1) * chunkMs)
                val from = (startMs * hz / 1000).toInt
                val until = math.min(samples.length, math.max(from + 1, (endMs * hz / 1000).toInt))
                var ss = 0.0
                var j = from
                while (j < until) { ss += samples(j) * samples(j); j += 1 }
                val nS = until - from
                AudioChunk(m.media_id, i, startMs, endMs, nS,
                  if (nS > 0) math.sqrt(ss / nS) else 0.0)
              }
            case None =>
              val dur = if (m.duration_ms > 0) m.duration_ms else math.max(1L, m.content.length.toLong)
              val nChunks = ((dur + chunkMs - 1) / chunkMs).toInt
              (0 until nChunks).iterator.map { i =>
                val startMs = i * chunkMs
                val endMs = math.min(dur, (i + 1) * chunkMs)
                val from = (m.content.length.toLong * startMs / dur).toInt
                val until = math.max(from + 1, (m.content.length.toLong * endMs / dur).toInt)
                val samples = FakeCodec.decodeSamples(m.content, from, until)
                val rms =
                  if (samples.isEmpty) 0.0
                  else math.sqrt(samples.iterator.map(s => s * s).sum / samples.length)
                AudioChunk(m.media_id, i, startMs, endMs, samples.length, rms)
              }
          }
        }
      }
  }

  /** Media fixture over the documents table: REAL payloads — tiny PNGs for
    * image rows, 16-bit PCM WAV tones for audio rows, MJPEG-AVI clips for
    * video rows (all seeded from `xxhash64(text)`, so content is
    * deterministic regardless of partitioning). Materialized once per
    * scale factor to a parquet cache and
    * read back, so (a) payload synthesis costs once, not per query, and
    * (b) the media table is a genuine parquet source — metadata-only
    * queries prune the binary column at the scan.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    // Cache key = content fingerprint of the documents source (absolute
    // path + per-file size + mtime), not the dir basename: two datasets
    // whose directories share a basename, or a regenerated fixture at the
    // same path, must NOT silently reuse each other's cached payloads.
    val src = Paths.get(dir, "documents.parquet").toAbsolutePath.normalize
    val fingerprint = {
      import scala.jdk.CollectionConverters._
      val parts =
        if (Files.isDirectory(src)) {
          // Files.walk holds directory handles until the stream closes —
          // close it explicitly so repeated fixture lookups don't leak fds
          val st = Files.walk(src)
          try st.iterator().asScala.filter(Files.isRegularFile(_))
            .map(p => s"$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
            .toSeq.sorted
          finally st.close()
        } else Seq(s"$src:${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(parts.mkString("\n").getBytes("UTF-8"))
      md.digest().take(12).map("%02x".format(_)).mkString
    }
    val cache = Paths.get(sys.props("java.io.tmpdir"),
      // v5: 8 MB row groups (bounded read batches); v6: planted image
      // near-dup cluster (de-vacuates the Hamming tier); v7: 1 MB row
      // groups — the split-granularity floor for the scan-parallel read
      // below (a split can only land on a row-group boundary, so group
      // size bounds BOTH the read batch and the decode parallelism)
      "graft-media-fixture-v7",
      s"${Paths.get(dir).getFileName}-$fingerprint")
    if (!Files.exists(cache)) synchronized {
      if (!Files.exists(cache)) {
        val tmp = cache.resolveSibling(cache.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID)
        graft.ops.tbl(spark, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            xxhash64(col("text")).as("seed"))
          .as[(Long, Long, Long)]
          .mapPartitions { it =>
            val ts0 = new Timestamp(0L)
            it.map { case (id, nChars, seed) =>
              math.floorMod(id, 5).toInt match {
                case 0 => // video: real MJPEG-AVI clip, 4–8 frames @ 10 fps
                  val nF = 4 + math.floorMod(seed >> 24, 5).toInt
                  val fps = 10
                  val w = 32 + math.floorMod(seed, 17).toInt
                  val h = 32 + math.floorMod(seed >> 16, 17).toInt
                  MediaItem(id, "video/avi",
                    VideoCodec.synthMjpegAvi(seed, w, h, nF, fps),
                    w, h, nF * 1000L / fps, ts0)
                case 1 => // audio: real WAV; duration capped to bound fixture size
                  val durMs = math.max(500L, math.min(nChars * 10, 2000L))
                  val hz = 4000
                  MediaItem(id, "audio/wav",
                    AudioCodec.synthWav(seed, (durMs * hz / 1000).toInt, hz),
                    -1, -1, durMs, ts0)
                case _ => // image: real PNG, dims discovered by decode
                  // Planted image near-dup cluster, ids {7,132,257,382}
                  // (all ≡ 2 mod 5 so the stripe stays in this modality;
                  // the id < 500 bound pins the cluster to 4 docs at
                  // EVERY sf — pair count never scales): three
                  // bit-identical PNGs plus one downscale of the same
                  // picture. Without it the Hamming tier's fixture
                  // answer is EMPTY at all scales — the documents
                  // fixture has no exact text dups, so seed =
                  // xxhash64(text) never collides (a vacuous oracle:
                  // an empty answer matches anything). NonVacuousSpec +
                  // MultimodalSpec pin the planted pairs.
                  if (id < 500 && math.floorMod(id, 125) == 7) {
                    val base = ImageCodec.synthPng(0x517CC1B727220A95L, 48, 48)
                    val bytes =
                      if (id == 257)
                        ImageCodec.encodePng(ImageCodec.scaleTo(
                          ImageCodec.decode(base).get, 36, 36))
                      else base
                    MediaItem(id, "image/png", bytes, -1, -1, -1L, ts0)
                  } else {
                    val w = 32 + math.floorMod(seed, 33).toInt
                    val h = 32 + math.floorMod(seed >> 16, 33).toInt
                    MediaItem(id, "image/png", ImageCodec.synthPng(seed, w, h),
                      -1, -1, -1L, ts0)
                  }
              }
            }
          }
          // 8 MB row groups (vs the 128 MB default): the vectorized
          // parquet reader sizes its batches by min(4096 rows, row
          // group), and 4096 × multi-KB binary payloads is a ~33 MB
          // CONTIGUOUS buffer PER TASK — 32 concurrent scan tasks OOMed
          // an 8 GB heap at the sf10 fixture (4.2 GB of payloads).
          // Small row groups bound the batch by construction, at the
          // write side, with no session-wide columnarReaderBatchSize
          // cut (measured 5-13% scan regression on narrow tables).
          // THE 100 TB rule this encodes: media lakes size row groups
          // for the ROW WIDTH, not the default tuned for scalar rows.
          .write.mode("overwrite")
          .option("parquet.block.size", (1L * 1024 * 1024).toString)
          .parquet(tmp.toString)
        try Files.move(tmp, cache, StandardCopyOption.ATOMIC_MOVE)
        catch { // lost a cross-JVM race: the winner's cache is equivalent
          case _: Exception if Files.exists(cache) =>
            import scala.jdk.CollectionConverters._
            val st = Files.walk(tmp)
            try st.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(Files.deleteIfExists(_))
            finally st.close()
        }
      }
    }
    // Read under a session clone whose ONLY conf delta is a media-sized
    // input split: the fixture is a handful of parquet files, so under the
    // 128 MB default the whole corpus is ONE scan task and every decode
    // caller would have to REPARTITION the binary payloads to get
    // parallelism — a full corpus-bytes shuffle per query. With fine
    // splits over 1 MB row groups the scan itself fans out and the payload
    // bytes move ZERO times: decode runs where the scan reads.
    //
    // The split size derives from the fixture's own byte count —
    // clamp(bytes / (4·defaultParallelism), 2 MB, 128 MB) rounded down to
    // a power of two, i.e. ~4 decode tasks per core at small fixtures,
    // saturating to the 128 MB session default as the fixture grows. The
    // conf travels with the returned frame (any table composed downstream
    // plans under it — that is what keeps the scan a REAL parquet scan, so
    // metadata-only pipelines still prune the payload column,
    // MultimodalSpec pins it); the clamp is what
    // bounds the scope creep: at corpus scale the override equals the
    // default, so a joined big side is never read at 2 MB splits.
    // An opaque pinned-RDD leaf was tried instead and rejected: it
    // confines the conf perfectly but defeats column pruning into the
    // scan — a metadata-only query over a media lake would read every
    // payload byte.
    // The cache path is keyed by the content fingerprint, so its bytes
    // never change once it exists: walk it once per JVM.
    val fixtureBytes: Long = cacheBytes.computeIfAbsent(cache, { c =>
      val st = Files.walk(c)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum
      } finally st.close()
    })
    // a power of two, so the clone key takes at most the seven values
    // 2 MB … 128 MB
    val splitBytes = java.lang.Long.highestOneBit(math.min(128L << 20,
      math.max(2L << 20,
        fixtureBytes / math.max(1, 4 * spark.sparkContext.defaultParallelism))))
    // one cached clone per distinct split (at most seven per JVM)
    val scanSession = org.apache.spark.sql.GraftBridge.sessionWithConf(spark,
      "spark.sql.files.maxPartitionBytes", splitBytes.toString)
    // encoder from the caller's implicits import above — encoders are
    // session-independent; a second implicits import would be ambiguous
    scanSession.read.parquet(cache.toString).as[MediaItem]
  }
}
