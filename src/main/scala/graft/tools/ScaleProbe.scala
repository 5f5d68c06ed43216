package graft.tools

import org.apache.spark.sql.functions._

/** Times the LIBRARY path of the LSH/embedding family — the auto-sized
  * nBits form real callers run — at a given scale factor. The DECLARED
  * keys (q_embed_neardup_all etc.) pin nBits=4 so their statically
  * rendered oracle SQL stays hash-exact; that audit form's bucket
  * occupancy explodes quadratically once the corpus outgrows the pinned
  * bucket count (16 buckets/table at 200 k vectors ≈ 12.5 k-row buckets →
  * ~10⁸ candidate pairs per bucket — the documented knob tradeoff, NOT
  * the production path). This probe measures what production runs:
  * autoNBits holds expected occupancy ~constant, so candidates grow
  * linearly with the corpus.
  *
  * Run: sbt "runMain graft.tools.ScaleProbe <sfDir> [iters]"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    // optional comma-separated probe-name filter (args(2)): the sf10
    // probes each spill tens of GB — rerunning ALL of them to measure one
    // new probe can fill the disk
    val only: Set[String] = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
    val n = emb.count()
    val bits = graft.ops.Similarity.autoNBits(n)
    println(s"corpus=$n vectors, autoNBits=$bits")

    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      if (only.nonEmpty && !only(name)) return
      val times = (0 until iters).map { _ =>
        val t0 = System.nanoTime()
        val rows = org.apache.spark.sql.GraftBridge.runExactPlan(mk)
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val warm = times.tail.map(_._1)
      println(f"$name%-28s cold=${times.head._1}%7.3f " +
        f"warm_min=${warm.minOption.getOrElse(Double.NaN)}%7.3f " +
        f"rows=${times.head._2}  all=${times.map(t => f"${t._1}%.2f").mkString(",")}")
    }

    time("lib_neardup_pairs_auto") {
      graft.ops.Similarity.lshNearDupPairs(emb, knownCount = Some(n))
    }
    time("lib_cluster_labels_auto") {
      graft.ops.Dedup.connectedComponents(
        graft.ops.Similarity.lshNearDupPairs(emb, knownCount = Some(n)))
    }
    time("lib_neardup_multiprobe8") {
      // half the tables + 1-bit probing: recall parity with the 16-table
      // exact-probe form is pinned in SimilaritySpec; this probe measures
      // the COST side of the trade (1x bucket build, (nBits+1)x probe rows)
      graft.ops.Similarity.lshNearDupPairsMultiProbe(emb, nTables = 8,
        knownCount = Some(n))
    }
    time("lib_knn_graph_auto") {
      // the declared q_knn_graph pins nBits=4 for its static oracle SQL —
      // this probes the production path: auto-sized buckets hold
      // occupancy ~constant so the candidate distinct grows ~linearly
      graft.ops.Similarity.knnGraphQuantized(emb, knownCount = Some(n))
    }
    // collision-volume census (r18): decomposes the kNN family's sf100
    // residual — collisions = Σ occ·(occ−1) over (table, bucket) is the
    // exact row count the bucket self-join produces, and max_occ exposes
    // bucket skew that autoNBits' EXPECTED-occupancy target cannot see.
    // If collisions/vector grows across decades, the join input itself is
    // super-linear and only an occupancy cap (not a faster reducer) fixes it.
    if (only.isEmpty || only("lib_collision_census")) {
      val buckets = emb.select(col("vec_id"),
          posexplode(graft.expr.LshSignatures(col("embedding"), bits, 16)))
        .select(col("pos").as("tbl"), col("col").as("bkt"))
      def projected(cap: Int) = {
        // collisions after an occupancy cap: buckets above `cap` split
        // into nsub=ceil(occ/cap) hash sub-buckets → ~occ²/nsub pairs
        val nsub = ceil(col("occ").cast("double") / cap)
        sum((col("occ") * (col("occ") - 1)).cast("double") / nsub)
          .cast("long").as(s"proj_cap$cap")
      }
      val r = buckets.groupBy("tbl", "bkt").agg(count(lit(1)).as("occ"))
        .agg(coalesce(sum(col("occ") * (col("occ") - 1)), lit(0L))
            .as("collisions"),
          coalesce(max(col("occ")), lit(0L)).as("max_occ"),
          coalesce(expr("approx_percentile(occ, 0.99)"), lit(0L))
            .as("p99_occ"),
          count(lit(1)).as("n_buckets"),
          coalesce(projected(64), lit(0L)).as("proj_cap64"),
          coalesce(projected(128), lit(0L)).as("proj_cap128"))
        .collect()(0)
      println(s"lib_collision_census collisions=${r.get(0)} " +
        s"max_occ=${r.get(1)} p99_occ=${r.get(2)} n_buckets=${r.get(3)} " +
        s"per_vector=${r.getLong(0) / math.max(n, 1)} " +
        s"proj_cap64=${r.get(4)} proj_cap128=${r.get(5)}")
    }

    time("lib_semdedup_survivors") {
      val dropped = graft.ops.Dedup.connectedComponents(
          graft.ops.Similarity.lshNearDupPairs(emb, knownCount = Some(n)))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("vec_id"))
      emb.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
    }

    // Media hash-tier probes (r19): the media family's cost model is
    // "one decode-bound mapPartitions pass, then only 8-byte hashes
    // shuffle". The decode pass is shuffle-free and per-item — linear by
    // construction (no joint state, pixels never cross the wire) and
    // measured per-item at sf10; the tier whose 1000× behavior actually
    // needs MEASURING is the post-decode shuffle tier (census groupBy +
    // pigeonhole Hamming join). Materializing 5 M real payloads is
    // censused infeasible on this box (~8.4 KB/item → ~42 GB vs 48 GB
    // free, colliding with required shuffle-spill headroom — PROFILE_r19),
    // so these probes synthesize the hash frame AT FULL ITEM COUNT (= the
    // fixture's documents count, the 1 item/doc v6 contract) with the
    // fixture's dup structure — exact-dup clusters of 4 per 200-id block
    // (2%) plus two 1-bit near-dup satellites per block (1%) — and run
    // the SAME census/banding code the declared keys run
    // (MediaOps.hammingNearDupPairs; the groupBy census shape of
    // q_media_phash_dup/q_media_vhash_dup).
    val mediaItems = graft.ops.tbl(spark, sfDir, "documents").count()
    def mediaHashFrame = {
      val base = spark.range(mediaItems)
        .select(col("id").as("media_id"),
          (col("id") - (col("id") % 200)).as("cid"),
          (col("id") % 200).as("pos"))
      base.select(col("media_id"),
        when(col("pos") < 4, xxhash64(col("cid")))
          .when(col("pos") < 6,
            xxhash64(col("cid")).bitwiseXOR(
              expr("shiftleft(1L, cast(media_id % 48 + 8 as int))")))
          .otherwise(xxhash64(col("media_id"), lit(7)))
          .as("phash"))
    }
    if (only.isEmpty || only("media_census_tier") || only("media_hamming_tier"))
      println(s"media_hash_tier items=$mediaItems (1 item/doc, v6 contract)")
    // Zipf prefix-filter census (r19): PROFILE_r18 §4 measured the
    // All-Pairs/PPJoin prefix prune at only 2.8× on the synthetic fixture
    // and PROJECTED "orders of magnitude" on natural (selective) token
    // distributions — this probe replaces the projection with a number.
    // It synthesizes a shingle index with the same corpus dimensions as
    // the real sf fixture (nDocs = the fixture's documents count, ~53
    // distinct shingles/doc) but a ZIPFIAN document-frequency law
    // (rank = floor(u^-2) ⇒ pmf ∝ rank^-1.5, the natural-corpus shape —
    // near-unique shingles dominate, a stopword head exists), then
    // censuses the inverted-index candidate mass Σ df·(df−1) in three
    // tiers exactly as jaccardPairs builds them: raw, after the
    // dfCeiling=1000 hot-token drop, and after the rarity-order prefix
    // (rn ≤ sz − ceil(0.6·sz) + 1 — the q_jaccard_shingles parameters).
    if (only.isEmpty || only("zipf_prefix_census")) {
      val nDocs = graft.ops.tbl(spark, sfDir, "documents").count()
      val slots = 53L
      val tok = spark.range(nDocs * slots).select(
          (col("id") / slots).cast("long").as("doc_id"),
          floor(pow(
            (pmod(xxhash64(col("id"), lit(13)), lit(1048576L)) + 1L)
              .cast("double") / 1048578.0, -2.0)).cast("long").as("token"))
        .distinct()
      val dfAll = tok.groupBy("token").agg(count(lit(1)).as("df"))
      val dfKept = dfAll.filter(col("df") <= 1000L)
      val sh = tok.join(dfKept, "token")
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val pref = sh
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(asc_nulls_first("df"), asc_nulls_first("token"))))
        .join(sizes, "doc_id")
        .filter(col("rn") <= col("sz") - expr("(6 * sz + 9) div 10") + 1)
      def mass(df: org.apache.spark.sql.DataFrame, c: String) =
        df.agg(coalesce(sum(col(c) * (col(c) - 1)), lit(0L)).cast("long"))
          .collect()(0).getLong(0)
      val idxRows = tok.count()
      val nTok = dfAll.count()
      val maxDf = dfAll.agg(coalesce(max(col("df")), lit(0L))).collect()(0).getLong(0)
      val mRaw = mass(dfAll, "df")
      val mCeil = mass(dfKept, "df")
      val dfp = pref.groupBy("token").agg(count(lit(1)).as("dfp"))
      val mPref = mass(dfp, "dfp")
      println(s"zipf_prefix_census docs=$nDocs index_rows=$idxRows " +
        s"distinct_tokens=$nTok max_df=$maxDf mass_raw=$mRaw " +
        s"mass_ceiling=$mCeil mass_prefix=$mPref " +
        f"ceil_cut=${mRaw.toDouble / math.max(mCeil, 1)}%.1fx " +
        f"prefix_cut=${mCeil.toDouble / math.max(mPref, 1)}%.1fx")
    }

    time("media_census_tier") {
      mediaHashFrame.groupBy("phash")
        .agg(count(lit(1)).as("n_images"), min(col("media_id")).as("canonical_id"))
    }
    time("media_hamming_tier") {
      graft.multimodal.MediaOps.hammingNearDupPairs(
        mediaHashFrame, "phash", maxHamming = 3)
    }
    spark.stop()
  }
}
