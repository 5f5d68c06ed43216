package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.multimodal.MediaOps

/** Multimodal-column queries (north-star op family): the documents fixture
  * is viewed as opaque binary media payloads with typed metadata
  * (graft.multimodal), then decoded / frame-sampled / embedded via batched
  * per-partition operators. All three modality kernels are REAL JDK codecs:
  * ImageIO PNG/JPEG decode, javax.sound PCM + Goertzel spectra, and a
  * hand-rolled RIFF/MJPEG-AVI demuxer (graft.multimodal.VideoCodec).
  *
  * Codec invariants are pinned by graft.MultimodalSpec (DuckDB cannot
  * decode media, so decode/frame/chunk/feature keys carry no SQL oracle).
  * The four dedup-census keys ARE oracled: they persist their
  * per-asset hash frame (see [[graft.ops.IndexFrames]]) and both engines
  * census the same parquet bytes — grouping, banding and the Hamming join
  * get the full rows+schema+hash check.
  */
object Multimodal {

  // The dedup-census keys below persist their per-asset hash frame via
  // graft.ops.IndexFrames (one parquet dir per (fixture-key, hash kind)),
  // then compute the census FROM THE PERSISTED FRAME — see IndexFrames'
  // Scaladoc for the build-then-census rationale, the oracle-readability
  // argument, and the collision-safe dir keying.
  private def persistHashFrame(df: org.apache.spark.sql.DataFrame,
      d: String, name: String): org.apache.spark.sql.DataFrame =
    IndexFrames.persist(df, d, name)

  private def hashIndexPath(name: String): String =
    IndexFrames.oraclePath(name)

  val all: Seq[Q] = Seq(
    Q(
      "q_media_decode",
      (s, d) => {
        // Decode parallelism comes from the SCAN: the media
        // fixture reads under a 2 MB-split session clone (see
        // MediaOps.mediaFromDocuments), so the codec work fans out where
        // the bytes are read and the old repartition — a full shuffle of
        // the binary payloads per query, ~20 MB at sf0.1 and corpus-bytes
        // at scale — is gone. parallelism = 0 (the no-repartition default)
        // everywhere in this family; the knob remains for callers with
        // genuinely unsplittable sources.
        MediaOps.decodeImages(MediaOps.mediaFromDocuments(s, d),
            parallelism = 0)
          .toDF()
          .orderBy(asc_nulls_first("media_id"))
      },
      None
    ),
    Q(
      "q_media_frames",
      (s, d) => {
        MediaOps.sampleFrames(MediaOps.mediaFromDocuments(s, d), 4)
          .toDF()
          .select(col("media_id"), col("frame_idx"), col("frame_ms"),
            length(col("frame_bytes")).cast("long").as("frame_len"),
            col("decoded_ok"))
          .orderBy(asc_nulls_first("media_id"), asc_nulls_first("frame_idx"))
      },
      None
    ),
    Q(
      "q_media_audio",
      (s, d) => {
        // audio modality: fixed-duration chunking + per-chunk RMS
        MediaOps.chunkAudio(MediaOps.mediaFromDocuments(s, d), chunkMs = 500L)
          .toDF()
          .orderBy(asc_nulls_first("media_id"), asc_nulls_first("chunk_idx"))
      },
      None
    ),
    Q(
      "q_media_features_topk",
      (s, d) => {
        // media → fixed-dim embedding → exact cosine top-3 for 5 probes:
        // the multimodal bridge into the similarity family.
        // localCheckpoint: the features frame feeds BOTH join sides. The
        // probe side sits under broadcast(), a mapPartitions codec pass has
        // no exchange for ReuseExchange to share, and the probe filter
        // cannot push below the codec — without the checkpoint the probe
        // subtree re-decodes the FULL media corpus to surface 5 vectors
        // (~half the query's warm time at sf0.1, linear waste in corpus
        // size). Same bounded-materialization pattern as packedQuantizedTopK
        // (Similarity.scala) and the Jaccard index frame (TextOps.scala);
        // the checkpointed set is (id, 64-float vec, norm) — tiny vs the
        // media bytes it came from.
        val feats = MediaOps.extractFeatures(MediaOps.mediaFromDocuments(s, d),
            parallelism = 0)
          .toDF()
          .select(col("media_id"), col("features"), norm(col("features")).as("nrm"))
          .localCheckpoint(eager = false)
        val probes = feats.filter(col("media_id") < 5)
          .select(col("media_id").as("probe_id"), col("features").as("pf"),
            col("nrm").as("pn"))
        val w = Window.partitionBy("probe_id")
          .orderBy(desc_nulls_last("cos_sim"), asc_nulls_first("media_id"))
        feats.crossJoin(broadcast(probes))
          .filter(col("media_id") =!= col("probe_id"))
          .withColumn("cos_sim",
            dot(col("features"), col("pf")) / (col("nrm") * col("pn")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe_id"), col("media_id"), col("cos_sim"),
            col("rn").cast("long").as("rn"))
          .orderBy(asc_nulls_first("probe_id"), asc_nulls_first("rn"))
      },
      None
    ),
    Q(
      // Perceptual image-dedup census: dHash64 over real decoded pixels
      // (MediaOps.perceptualHash — lossless re-encode/brightness variants
      // of one picture collide on the same 64-bit key; resizes land
      // within a few bits, the Hamming-join tier), then exact-hash
      // grouping. The scale shape is the whole point: after the one codec
      // pass, only 8-byte hashes shuffle (one map-side-combined agg) —
      // image near-dup at 100 TB without pixels ever crossing the wire.
      // decoded_ok=false fallbacks are excluded (fabricated hashes must
      // not cluster with genuine pixel hashes). Invariance + fallback
      // semantics pinned in MultimodalSpec; no SQL oracle (JDK codec).
      // The census half is DuckDB-oracled: the hash frame is
      // persisted (see MediaHashRoot) and both engines census the same
      // parquet bytes; only the codec stays ScalaTest-only.
      "q_media_phash_dup",
      (s, d) => {
        val idx = persistHashFrame(
          MediaOps.perceptualHash(MediaOps.mediaFromDocuments(s, d),
              parallelism = 0)
            .toDF()
            .filter(col("decoded_ok"))
            .select("media_id", "phash"),
          d, "phash")
        idx.groupBy("phash")
          .agg(count(lit(1)).as("n_images"),
            min(col("media_id")).as("canonical_id"))
          .orderBy(asc_nulls_first("phash"))
      },
      Some(s"""SELECT phash, COUNT(*) AS n_images,
              |  MIN(media_id) AS canonical_id
              |FROM read_parquet('${hashIndexPath("phash")}')
              |GROUP BY phash
              |ORDER BY phash ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // The Hamming tier (MediaOps.phashNearDupPairs): image pairs within
      // 3 bits of perceptual distance — the resized/slightly-altered dups
      // the exact-hash census misses. Pigeonhole banding (4×16-bit bands,
      // d<4 ⇒ one band untouched) makes candidate generation a band-keyed
      // equi-join with guaranteed recall 1.0 — no LSH luck — and the
      // popcount filter keeps precision 1.0; only (hash, band) keys
      // shuffle. The fixture's planted text dups synthesize identical
      // images, so distance-0 pairs exist at every scale. Banding
      // guarantee + planted-resize recall pinned in MultimodalSpec.
      // Banding + Hamming join run over the persisted hash index and are
      // replicated in the oracle SQL, so the pigeonhole tier itself is
      // rows+schema+hash checked, not just spec-pinned.
      "q_media_phash_neardup",
      (s, d) => {
        val idx = persistHashFrame(
          MediaOps.perceptualHash(MediaOps.mediaFromDocuments(s, d),
              parallelism = 0)
            .toDF()
            .filter(col("decoded_ok"))
            .select("media_id", "phash"),
          d, "phash_nd")
        MediaOps.hammingNearDupPairs(idx, "phash", maxHamming = 3)
          .orderBy(asc_nulls_first("a_id"), asc_nulls_first("b_id"))
      },
      Some(s"""WITH h AS (
              |  SELECT media_id, phash
              |  FROM read_parquet('${hashIndexPath("phash_nd")}')),
              |b AS (
              |  SELECT media_id, phash, band,
              |    (phash >> (band * 16)) & 65535 AS key
              |  FROM h, UNNEST([0, 1, 2, 3]) AS t(band))
              |SELECT DISTINCT x.media_id AS a_id, y.media_id AS b_id,
              |  CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
              |FROM b x JOIN b y ON x.band = y.band AND x.key = y.key
              |  AND x.media_id < y.media_id
              |WHERE bit_count(xor(x.phash, y.phash)) <= 3
              |ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Audio-dedup census: AudioCodec.audioHash64 over real decoded PCM
      // (MediaOps.audioFingerprint) — volume- and encoding-invariant
      // spectral fingerprint, exact-hash grouping; after the one codec
      // pass only 8-byte hashes shuffle. Fallback rows excluded, same
      // contract as the image census. Invariances pinned in
      // MultimodalSpec; no SQL oracle (JDK codec).
      "q_media_ahash_dup",
      (s, d) => {
        val idx = persistHashFrame(
          MediaOps.audioFingerprint(MediaOps.mediaFromDocuments(s, d),
              parallelism = 0)
            .toDF()
            .filter(col("decoded_ok"))
            .select("media_id", "ahash"),
          d, "ahash")
        idx.groupBy("ahash")
          .agg(count(lit(1)).as("n_clips"),
            min(col("media_id")).as("canonical_id"))
          .orderBy(asc_nulls_first("ahash"))
      },
      Some(s"""SELECT ahash, COUNT(*) AS n_clips,
              |  MIN(media_id) AS canonical_id
              |FROM read_parquet('${hashIndexPath("ahash")}')
              |GROUP BY ahash
              |ORDER BY ahash ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Video-dedup census completing the modality triple: per clip, the
      // dHashes of 4 uniformly-sampled REAL demuxed frames mix
      // order-sensitively into one 64-bit key (MediaOps.videoFingerprint
      // — a reversed clip must not collide), then the same exact-hash
      // census shape: one codec pass, 8-byte keys on the wire. Fallback
      // (non-demuxable / zero decodable frames) rows excluded.
      "q_media_vhash_dup",
      (s, d) => {
        val idx = persistHashFrame(
          MediaOps.videoFingerprint(MediaOps.mediaFromDocuments(s, d),
              parallelism = 0)
            .toDF()
            .filter(col("decoded_ok"))
            .select("media_id", "vhash"),
          d, "vhash")
        idx.groupBy("vhash")
          .agg(count(lit(1)).as("n_clips"),
            min(col("media_id")).as("canonical_id"))
          .orderBy(asc_nulls_first("vhash"))
      },
      Some(s"""SELECT vhash, COUNT(*) AS n_clips,
              |  MIN(media_id) AS canonical_id
              |FROM read_parquet('${hashIndexPath("vhash")}')
              |GROUP BY vhash
              |ORDER BY vhash ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Cross-modal provenance census: image-dup rate PER SOURCE —
      // which provider ships duplicated imagery, the procurement-facing
      // rollup of q_media_phash_dup (same relationship q_dup_ratio_by_
      // source has to q_dedup_docs_exact, one modality over). Joins the
      // persisted phash index back to the documents table on id: after
      // the one codec pass only (id, 8-byte hash) and (id, source)
      // columns shuffle — an id-grain equi-join, never pixels. Output is
      // one row per source regardless of dup density, so the census is
      // never vacuously empty; the planted v6 cluster guarantees at
      // least one source shows n_dup_images > 0 on the driver fixture.
      "q_media_dup_by_source",
      (s, d) => {
        val idx = persistHashFrame(
          MediaOps.perceptualHash(MediaOps.mediaFromDocuments(s, d),
              parallelism = 0)
            .toDF()
            .filter(col("decoded_ok"))
            .select("media_id", "phash"),
          d, "phash_src")
        val counts = idx.groupBy("phash").agg(count(lit(1)).as("n"))
        idx.join(counts, "phash")
          .join(tbl(s, d, "documents")
              .select(col("doc_id").as("media_id"), col("source")),
            "media_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_images"),
            sum(when(col("n") > 1, 1L).otherwise(0L)).cast("long")
              .as("n_dup_images"))
          .select(col("source"), col("n_images"), col("n_dup_images"),
            (col("n_dup_images").cast("double") /
              col("n_images").cast("double")).as("dup_ratio"))
          .orderBy(asc_nulls_first("source"))
      },
      Some(s"""WITH h AS (
              |  SELECT media_id, phash
              |  FROM read_parquet('${hashIndexPath("phash_src")}')),
              |c AS (SELECT phash, COUNT(*) AS n FROM h GROUP BY phash),
              |j AS (
              |  SELECT d.source, c.n
              |  FROM h JOIN c ON c.phash = h.phash
              |  JOIN documents d ON d.doc_id = h.media_id)
              |SELECT source, COUNT(*) AS n_images,
              |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_dup_images,
              |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |    / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
              |FROM j GROUP BY source
              |ORDER BY source ASC NULLS FIRST""".stripMargin)
    )
  )
}
