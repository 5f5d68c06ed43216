package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (north-star op).
  *
  * Two paths, as a 100 TB engine needs both:
  *   - q_sim_cosine_topk — exact brute force: bounded probe set broadcast
  *     against the full corpus; one linear scan, per-probe top-k via
  *     window. This is the baseline/recall oracle.
  *   - q_sim_cosine_lsh — signed-random-projection LSH: corpus and probes
  *     bucketed by hyperplane sign bits, candidates generated by bucket
  *     equi-join (multiple independent tables for recall), exact re-score
  *     inside buckets. Candidate generation is O(collisions), never
  *     all-pairs — the scale path.
  *   - q_embed_neardup — nearest neighbor per probe vector above a cosine
  *     floor (bounded probe set).
  *   - q_embed_neardup_all / q_embed_clusters — CORPUS-WIDE near-dup pairs
  *     and their connected-component clusters: LSH-bucket self-join
  *     candidate generation + exact re-score, no probe bound. The curation
  *     primitive for dedup'ing an embedding corpus against itself.
  *
  * Oracle strategy: float SCORES are engine-order-specific and never
  * declared; ids/rank/cluster outputs are declared wherever the ranking or
  * threshold margins are measured ≥100× the cross-engine divergence (see
  * per-query comments). ScalaTest pins exact score semantics and LSH
  * recall vs brute force.
  */
object Similarity {

  private val K = 5
  private val NProbes = 10

  /** (vec_id, tbl, bkt) for `nTables` independent signed-random-projection
    * bucketings; table t uses planes [t*nBits, (t+1)*nBits). NARROW by
    * design — three longs per (vector, table) on the wire; re-scoring joins
    * the embedding back by vec_id, so the bucket shuffle never carries the
    * vectors. All signatures come from ONE LshSignatures pass (the composed
    * per-plane column formulation measured ~325 µs/row — see the
    * expression's scaladoc).
    */
  private def tableBuckets(emb: org.apache.spark.sql.DataFrame,
      nBits: Int, nTables: Int): org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"),
        posexplode(graft.expr.LshSignatures(col("embedding"), nBits, nTables)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bkt"))

  /** The kNN family's bucket-occupancy cap. autoNBits holds the
    * EXPECTED occupancy at ~32, but real embeddings are clustered and the
    * hot-bucket tail grows with the corpus — measured on the scale
    * fixtures (lib_collision_census, PROFILE_r18.txt): p99 occupancy 92 at
    * 200 k vectors → 142 at 2 M (max 215 → 818), which makes the
    * collision JOIN INPUT super-linear (619 → 931 collision rows per
    * vector per decade) — the true residual behind the family's 13-14×
    * sf100 decades; no reducer can fix a super-linear input. */
  val KnnMaxBucket = 64

  /** Split buckets above `cap` occupancy into ceil(occ/cap) hash
    * sub-buckets: adds a `sub` column (0 for the vast majority of
    * buckets, which sit at/below the cap) that the candidate self-join
    * keys on alongside (tbl, bkt), bounding per-bucket join work at
    * ~cap² while leaving at-or-below-cap buckets untouched. The sub
    * assignment hashes (vec_id, tbl) with the PORTABLE md5-slice idiom so
    * the declared oracles replicate it exactly, and varies per table so a
    * pair split apart in one table still meets in others (measured
    * recall cost at cap 64: a p99 bucket splits ~2-3 ways → pair-meet
    * odds ≥ 1−(1−1/3)^16 ≈ 0.998 across 16 tables; only the pathological
    * max-occupancy tail pays more). Plan shape: the occupancy agg is
    * map-side combined (1 row per bucket on the wire) and its join back
    * rides the (tbl, bkt) exchange the self-join needs anyway —
    * HashPartitioning(tbl, bkt) satisfies the (tbl, bkt, sub) join's
    * clustering, so the cap adds NO exchange to the candidate stream. */
  private def withBucketCapSub(buckets: org.apache.spark.sql.DataFrame,
      cap: Int): org.apache.spark.sql.DataFrame = {
    val occ = buckets.groupBy("tbl", "bkt").agg(count(lit(1)).as("occ"))
    buckets.join(occ, Seq("tbl", "bkt"))
      .withColumn("sub",
        conv(md5(concat_ws(":", col("vec_id").cast("string"),
          col("tbl").cast("string"))).substr(1, 15), 16, 10).cast("long")
          % expr(s"(occ + ${cap - 1}) div $cap"))
      .drop("occ")
  }

  /** Auto-size the LSH bucket-bit count from the corpus size: nBits =
    * ⌈log2(n / targetBucket)⌉ clamped to [minBits, maxBits], holding the
    * EXPECTED bucket occupancy n/2^nBits ≈ targetBucket constant as the
    * corpus grows, derived rather than left a manual knob. Candidate-join
    * cost per table is Σ bucket², so constant occupancy keeps the whole
    * family linear in n; recall lost to finer buckets is bought back with
    * nTables (recall for a cos=c pair is 1-(1-p^nBits)^nTables,
    * p = 1-acos(c)/π). minBits=4
    * reproduces the fixture-validated setting at the sf0.01 oracle scale
    * (500/32 → exactly 4), so the statically-rendered oracle SQL and the
    * auto-derived plan stay in lockstep where the driver verifies; the
    * measured points: 5 000 vecs → 8 bits, 50 000 → 11, both occupancy
    * ≈ 20-25 (ScaleSpec pins this at the sf0.1 fixture and an sf1-count
    * synthetic corpus).
    */
  def autoNBits(corpusCount: Long, targetBucket: Long = 32,
      minBits: Int = 4, maxBits: Int = 24): Int = {
    val ratio = math.max(1.0, corpusCount.toDouble / math.max(1L, targetBucket))
    math.min(maxBits, math.max(minBits,
      math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** Embeddings-table row count of the driver's VERIFY fixtures (sf0.001
    * and sf0.01 both carry exactly 500 vectors; SimilaritySpec pins the
    * lockstep). The LSH-family oracle SQL must name its bucket-bit
    * constant at declare time (the plane constants are rendered into the
    * SQL text), so it is rendered at autoNBits(this) — exactly what the
    * declared Spark side, which auto-sizes from the LIVE corpus count,
    * derives at the scale the driver verifies. At any larger scale the
    * declared key keeps auto-sizing (the production shape, measured
    * ~linear at sf10's 200 k vectors) and the oracle is never consulted
    * there — a fixed nBits=4 would make the declared keys quadratic off
    * the verify fixture. */
  private[graft] val VerifyFixtureEmbCount = 500L
  /** = 4 at the 500-vector verify fixture. */
  private[graft] val OracleBits: Int = autoNBits(VerifyFixtureEmbCount)
  /** Cross-frame (decontaminate) keys auto-size from the CORPUS split
    * (vec_id ≥ 100 → 400 vectors at the verify fixture); also = 4. */
  private[graft] val OracleCrossBits: Int =
    autoNBits(VerifyFixtureEmbCount - 100)

  /** Corpus-wide embedding near-dup pairs (a_id < b_id, cosine > floor):
    * the vector-space analog of Dedup.minhashPairs. Candidates come from an
    * LSH-bucket SELF equi-join — the two sides are identical subtrees, so
    * ReuseExchange computes the bucket shuffle once — and every candidate
    * is scored EXACTLY (codegen'd VectorDot cosine), so precision is 1.0
    * and only recall depends on the LSH parameters. Cost is
    * O(sum of bucket sizes²), never all-pairs.
    *
    * The vectors RIDE the bucket rows and the cosine is evaluated INLINE
    * in the self-join output: at constant occupancy t the candidate
    * stream is ~t/2 × the bucket stream, so a narrow-bucket +
    * rescore-join form (attach vectors to candidates by id) moves ~16×
    * more vector bytes than this one pays for the wide bucket exchange —
    * and that exchange is shared by both join sides (ReuseExchange).
    * Measured at sf100's 2 M vectors: the rescore form's b_id-side
    * shuffle (450 M candidates × vector payload ≈ 130 GB) filled the
    * box's disk and failed; this form's one wide exchange is ~9 GB and
    * join outputs die in the codegen'd floor filter without
    * materializing. Same survivors, same floats, same oracle.
    *
    * nBits ≤ 0 (the default) derives the bucket count from the corpus via
    * [[autoNBits]] — one cheap count() against the scan — keeping expected
    * occupancy constant at any scale; pass an explicit positive value to
    * override. 4 bits × 16 tables (the auto answer at the sf0.01 oracle
    * scale) give measured recall 0.94-0.97 at floor 0.4. A pipeline that
    * has already counted its corpus passes `knownCount` to skip the extra
    * count() action (ScaleSpec pins zero extra jobs on that path).
    */
  def lshNearDupPairs(emb: org.apache.spark.sql.DataFrame,
      nBits: Int = 0, nTables: Int = 16,
      floor: Double = 0.4,
      knownCount: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val bits = if (nBits > 0) nBits
      else autoNBits(knownCount.getOrElse(emb.count()))
    val buckets = emb
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"),
        posexplode(graft.expr.LshSignatures(col("embedding"), bits, nTables)))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("pos").as("tbl"), col("col").as("bkt"))
    buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt")
          && col("a.vec_id") < col("b.vec_id"))
      .filter(dot(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm")) > floor)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct() // the same pair collides in several tables
  }

  /** Exact re-score of candidate (a_id, b_id) pairs: attach embeddings by
    * id, codegen'd VectorDot cosine, floor filter, THEN distinct. The
    * attach joins and the cosine filter are map-side (vs a corpus-
    * collision-sized shuffle to distinct first), and the floor kills
    * ~99.9% of candidates — so the distinct runs on the tiny survivor
    * set. A pair colliding in k tables is re-scored k times (k ≤ nTables,
    * cheap dot products); removing the collision-sized shuffle measured
    * 3.5→2.9 s warm at sf0.1, and the win grows with corpus size since
    * the deleted shuffle scales with collisions while survivors do not.
    */
  private def rescorePairs(emb: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame,
      floor: Double): org.apache.spark.sql.DataFrame = {
    val scored = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    cand
      .join(scored.select(col("vec_id").as("a_id"), col("embedding").as("va"), col("nrm").as("na")), "a_id")
      .join(scored.select(col("vec_id").as("b_id"), col("embedding").as("vb"), col("nrm").as("nb")), "b_id")
      .withColumn("cos_sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") > floor)
      .select(col("a_id"), col("b_id"))
      .distinct() // the same pair collides in several tables/probes
  }

  /** Multi-probe variant of [[lshNearDupPairs]]: instead of buying recall
    * with MORE tables (which multiplies BOTH join sides and the
    * LshSignatures work), the probe side also visits every bucket at
    * Hamming distance 1 (nBits one-bit flips), so a pair whose signatures
    * differ in ≤1 bit in ANY table becomes a candidate. Per-table recall
    * for a cos=c pair rises from p^b to p^b + b·p^(b−1)(1−p)
    * (p = 1−acos(c)/π), which typically matches 2-3× the table count of
    * the exact-probe form — at 1× the bucket build and 1× the bucket-side
    * join rows (probe side is (nBits+1)×, the asymmetric cost).
    * Asymmetric join (expanded probes vs original buckets) with
    * a_id < b_id checks each unordered pair once per table; the exact
    * re-score keeps precision 1.0 like every path in this family.
    */
  def lshNearDupPairsMultiProbe(emb: org.apache.spark.sql.DataFrame,
      nBits: Int = 0, nTables: Int = 8,
      floor: Double = 0.4,
      knownCount: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val bits = if (nBits > 0) nBits
      else autoNBits(knownCount.getOrElse(emb.count()))
    val buckets = tableBuckets(emb.select("vec_id", "embedding"), bits, nTables)
    val probes = buckets.select(col("vec_id"), col("tbl"),
        explode(array(col("bkt") +:
          (0 until bits).map(j => col("bkt").bitwiseXOR(lit(1L << j))): _*))
          .as("bkt"))
    val cand = probes.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    rescorePairs(emb, cand, floor)
  }

  /** k-NN graph build: top-k nearest neighbors PER VECTOR, LSH-bucketed
    * candidate generation + integer quantized-L2 re-rank — the primitive
    * a SemDeDup / graph-based ANN index (HNSW base layer) build consumes.
    * Directed: (src → dst) ranks dst among src's candidates, so both
    * directions of a close pair appear (unlike the a<b near-dup pairs).
    *
    * Why this shape at 100 TB: the naive graph is O(n²) distances; here
    * candidates are LSH bucket collisions (bounded by occupancy — the
    * same auto-sized buckets as the near-dup family) and the re-rank is
    * an integer fold over packed int8 codes — hash-exact, so unlike a
    * float-cosine kNN graph the whole artifact holds under a DuckDB hash
    * oracle. Both plans of the collision stream end in one bounded fold
    * ([[knnFold]]): a pair colliding in several tables ranks ONCE because
    * its duplicate collisions collapse inside the fold, and each map task
    * reduces a src to ≤ k pairs before the one src exchange. The plans
    * differ in where the codes travel: the coarse-bits plan joins them
    * onto a narrow (src, dst) collision stream, the production plan
    * carries them on the bucket rows.
    *
    * Session scoping caveat (both plans, through [[knnFold]]): the
    * returned frame is re-homed onto [[graft.Graft.boundedAggFrame]]'s
    * session clone, whose only conf delta is the raised
    * ObjectHashAggregate fallback threshold the BottomKPairs fold needs.
    * Because SQLExecution propagates the conf of the frame's OWN session,
    * any operator a caller COMPOSES ON TOP of this result also plans
    * under that raised threshold — an unbounded collect_list/collect_set
    * added downstream loses the 128-group sort-demotion safety valve. If
    * you stack unbounded object aggregates on the kNN graph, re-home the
    * composition back first: `GraftBridge.rehome(parentSession, knn)`.
    * (Rehoming inside this function instead would defeat the scoping:
    * the whole plan executes as one query under the FINAL frame's
    * session, so the fold itself would plan under the caller's 128.)
    */
  def knnGraphQuantized(emb: org.apache.spark.sql.DataFrame,
      k: Int = 3, nBits: Int = 0, nTables: Int = 16,
      knownCount: Option[Long] = None,
      dedupFirst: Option[Boolean] = None): org.apache.spark.sql.DataFrame = {
    val bits = if (nBits > 0) nBits
      else autoNBits(knownCount.getOrElse(emb.count()))
    // Two result-identical plans, selected by bucket granularity
    // (`dedupFirst` overrides the choice — SimilaritySpec pins their
    // equality). Both fold through the same knnFold:
    //  - COARSE buckets (≤8 bits): the bucket rows stay narrow (vec_id
    //    only), and two broadcast joins attach the codes to the (src,
    //    dst) collision stream. A pair collides in many tables here
    //    (per-table collision odds 2^-bits), and the codes are small
    //    enough to broadcast. Carrying the codes on the bucket rows here
    //    too measured slower at 500 vectors (1.37 → 1.62 s, 6 → 10 jobs).
    //  - PRODUCTION occupancy (auto bits): the dup factor is ~1, so the
    //    codes RIDE the bucket rows, the distance folds map-side right in
    //    the bucket join's output, and the collision stream shuffles
    //    once, with no code-attach join. Measured 166 s → 64 s warm at
    //    the 200k-vector 100× point (PROFILE_sf10.txt); the wide bucket
    //    exchange (codes payload) is the price, paid once for both join
    //    sides by ReuseExchange.
    if (dedupFirst.getOrElse(bits <= 8)) {
      // The coarse-bits branch tail: the raw collision stream goes
      // straight through the code-attach joins (narrow bucket rows — the
      // joins broadcast at this branch's ≤8-bit scales, where codes are
      // ≤ ~8 k rows by autoNBits construction) into the SAME BottomKPairs
      // bounded fold the production branch uses, with no collision-sized
      // (src, dst) DISTINCT exchange (~780 k records at sf0.1, which would
      // be the family's single largest shuffle at the small scales) and no
      // sorted window exchange of the scored stream. Duplicate collisions
      // are collapsed INSIDE the fold — sound because qdist is a function
      // of (src, dst), so duplicates are exact (the aggregate's scaladoc carries
      // the losslessness argument) — and partial aggregation collapses to
      // ≤ k pairs per (src, map partition) BEFORE the wire, no sort
      // anywhere. The price is re-computing the cheap int-fold qdist once
      // per duplicate collision instead of once per pair; against a
      // distinct-first tail at sf0.1 (Profile counts) shuffle records go
      // 969 k → ~165 k and bytes 7.2 → ~2.5 MB, same rows out. Identical output by
      // the fold's contract (qdist ASC, dst ASC, rn = position+1);
      // SimilaritySpec pins the two strategies' equality. Same
      // boundedAggFrame scoping (and the same composition caveat in the
      // scaladoc above) as the production branch.
      // The one deliberate exchange left: fan the NARROW bucket rows out
      // by (tbl, bkt) before the self-join. With every join in this
      // branch broadcast (everything is small at ≤8 bits), the collision
      // generation + distance fold would otherwise run at SCAN
      // parallelism — one or two parquet splits at the small scales, i.e.
      // nearly serial (measured 15 s vs 5 s warm at sf0.1). ~30 B/row ×
      // bucket rows is the cheapest possible fan-out point: 89 k records
      // here vs the 969 k the old distinct+window shape shuffled.
      // Occupancy is capped at KnnMaxBucket, so (tbl, bkt) keys spread
      // evenly. The partition count is EXPLICIT (the session's configured
      // shuffle partitions — cluster-sized by the Graft.session contract):
      // AQE's byte-based coalescing would otherwise collapse this ~2 MB
      // exchange to one partition and re-serialize the CPU-bound fold
      // stage it exists to parallelize (measured: it did exactly that).
      val buckets = withBucketCapSub(
        tableBuckets(emb.select("vec_id", "embedding"), bits, nTables),
        KnnMaxBucket)
        .repartition(emb.sparkSession.sessionState.conf.numShufflePartitions,
          col("tbl"), col("bkt"))
      val codes = quantizePacked(emb, quantizeStats(emb))
        .localCheckpoint(eager = false)
      val scored = buckets.as("a").join(buckets.as("b"),
          col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt")
            && col("a.sub") === col("b.sub")
            && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
        .join(codes.select(col("vec_id").as("src"), col("codes").as("cs")),
          "src")
        .join(codes.select(col("vec_id").as("dst"), col("codes").as("cd")),
          "dst")
        .select(col("src"), col("dst"),
          int8SquaredL2("cs", "cd").as("qdist"))
      knnFold(scored, k)
    } else {
      val buckets = withBucketCapSub(
        withPackedCodes(emb.select("vec_id", "embedding"),
            quantizeStats(emb))
          .select(col("vec_id"), col("codes"),
            posexplode(graft.expr.LshSignatures(col("embedding"), bits,
              nTables)))
          .select(col("vec_id"), col("codes"),
            col("pos").as("tbl"), col("col").as("bkt")),
        KnnMaxBucket)
        // ONE map-side-combined bounded fold. A per-bucket row_number
        // prune avoids the collision-stream disk-fill but keeps an
        // in-stage SORT of the whole joined partition (n log n in partition rows — the
        // measured super-linear residual of the family's sf100 decades)
        // plus two more shuffles ((src,dst) min-agg, per-src rank
        // window). The native BottomKPairs aggregate (expr/BottomKPairs
        // .scala — a TypedImperativeAggregate reading longs straight off
        // the InternalRow, no encoder/boxing) folds the collision stream
        // straight to each src's k best (dist ASC, dst ASC, duplicate
        // collisions collapsed inside the fold — see its scaladoc for the
        // losslessness argument): NO sort anywhere, partial agg runs
        // map-side in the join's output stage, and the ONE exchange
        // carries ≤ k pairs per (src, map partition). SimilaritySpec pins
        // result equality with the coarse-bits plan.
        // boundedAggFrame: the fold needs the ObjectHashAggregate fallback
        // threshold raised past the 128 default (which would demote it to
        // sort-based after 128 src groups, re-introducing the sort) — but
        // ONLY this query: the raise is scoped to a session clone carried
        // by the returned frame, so the caller's session keeps the
        // low-default safety valve for unbounded aggs (Graft.scala).
        knnFold(
          buckets.as("a").join(buckets.as("b"),
              col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt")
                && col("a.sub") === col("b.sub")
                && col("a.vec_id") =!= col("b.vec_id"))
            .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
              int8SquaredL2("a.codes", "b.codes").as("qdist")),
          k)
    }
  }

  /** Squared L2 distance between the int8 code arrays `u` and `v` (SQL
    * expressions): one `aggregate(zip_with(…))` fold, each difference
    * widened to INT and the sum to BIGINT. `x` and `y` name the lambda's
    * elements, which appear in the executed plan's text.
    */
  private def int8SquaredL2(u: String, v: String, x: String = "x",
      y: String = "y"): org.apache.spark.sql.Column =
    expr(s"aggregate(zip_with($u, $v, ($x, $y) -> (CAST($x AS INT) - $y) * (CAST($x AS INT) - $y)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)")

  /** Both kNN strategies' tail: fold the scored (src, dst, qdist) pair
    * stream to each src's k nearest as (src, dst, qdist, rn) rows, qdist
    * ASC then dst ASC, rn = position + 1.
    *
    * A pair whose qdist is null has no distance and no rank, and is left
    * out of the fold. That happens when the two embeddings differ in
    * length: zip_with pads the shorter code array with nulls. (A null
    * element still quantizes to a code, and a null embedding has no
    * buckets, so it never pairs at all.) The rule is the fold's FILTER
    * clause, applied to the already computed qdist: a row filter on qdist
    * may be pushed below the projection that computes it, evaluating
    * every distance twice.
    */
  private def knnFold(scored: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    graft.Graft.boundedAggFrame(
      scored
        .groupBy("src")
        .agg(graft.expr.BottomKPairs(col("qdist"), col("dst"), k,
          where = col("qdist").isNotNull).as("tk"))
        .select(col("src"), posexplode(col("tk")).as(Seq("p", "e")))
        .select(col("src"), col("e.id").as("dst"), col("e.qd").as("qdist"),
          (col("p") + 1).cast("long").as("rn")))

  /** SEMANTIC decontamination — the two-frame generalization of
    * [[lshNearDupPairs]]: corpus rows whose embedding nearly matches ANY
    * benchmark embedding. Exact n-gram decontamination
    * (Dedup.decontaminate) misses a paraphrased eval item; in embedding
    * space the paraphrase is a near-dup. Both frames are bucketed with the
    * SAME plan-time hyperplanes (a cross-frame collision requires shared
    * planes), candidates come from the cross equi-join on (table, bucket),
    * and every candidate is re-scored exactly — precision 1.0, recall the
    * LSH knobs' (same 1-(1-p^nBits)^nTables curve as the self-join).
    *
    * Scale shape: the benchmark side is an eval suite, orders of magnitude
    * smaller than the corpus — its bucket table (3 longs × nTables per
    * vector) gets an explicit broadcast when bounded
    * (`maxBroadcastBench`, count-VERIFIED like Dedup.decontaminate, not
    * assumed), so the corpus never shuffles: bucket + join + re-score are
    * all map-side. nBits auto-derives from the CORPUS count (the big
    * side, which sets occupancy); the bench inherits the same planes.
    */
  def lshCrossDupPairs(corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      nBits: Int = 0, nTables: Int = 16, floor: Double = 0.4,
      maxBroadcastBench: Long = 4000000L,
      knownCorpusCount: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val bits = if (nBits > 0) nBits
      else autoNBits(knownCorpusCount.getOrElse(corpus.count()))
    val cb = tableBuckets(corpus.select("vec_id", "embedding"), bits, nTables)
    val bb0 = tableBuckets(bench.select("vec_id", "embedding"), bits, nTables)
      .select(col("vec_id").as("bench_id"), col("tbl"), col("bkt"))
      .localCheckpoint(eager = true) // one bench pass: count + join
    val benchBounded = bb0.count() <= maxBroadcastBench
    val bb = if (benchBounded) broadcast(bb0) else bb0
    val cand = cb.join(bb, Seq("tbl", "bkt"))
      .select(col("vec_id"), col("bench_id"))
    val scoredC = corpus.select(col("vec_id"), col("embedding").as("vc"),
      norm(col("embedding")).as("nc"))
    val scoredB0 = bench.select(col("vec_id").as("bench_id"),
      col("embedding").as("vb"), norm(col("embedding")).as("nb"))
    val scoredB = if (benchBounded) broadcast(scoredB0) else scoredB0
    // same shape as the self-join: re-score before the distinct, so the
    // dedup shuffle only carries floor survivors
    cand
      .join(scoredC, "vec_id")
      .join(scoredB, "bench_id")
      .withColumn("cos_sim", dot(col("vc"), col("vb")) / (col("nc") * col("nb")))
      .filter(col("cos_sim") > floor)
      .select(col("vec_id"), col("bench_id"))
      .distinct() // the same pair collides in several tables
  }

  /** DuckDB replica of the LSH bucketing for the oracle: the ±1 hyperplanes
    * are plan-time constants (VectorFunctions.planeSigns), so the SAME
    * planes are rendered as exact integer array literals into the SQL.
    * Both engines fold exact doubles in array order (float→double casts are
    * exact), and the measured margins dwarf any residual divergence:
    * min |projection| 3.9e-5 and min |cos−floor| 1.3e-4 at sf0.01, vs
    * ~1e-13 double-fold divergence.
    */
  private def lshBucketSqlCtes(nBits: Int, nTables: Int): String = {
    val planes = (0 until nBits * nTables).map { p =>
      s"($p, ${graft.functions.VectorFunctions.planeSql(p, 64)})"
    }.mkString(",\n  ")
    s"""planes(pid, pv) AS (VALUES
       |  $planes),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bkts AS (
       |  SELECT e.vec_id, p.pid // $nBits AS tbl,
       |    SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
       |        THEN (1 << (p.pid % $nBits)) ELSE 0 END) AS bkt
       |  FROM e CROSS JOIN planes p GROUP BY 1, 2)""".stripMargin
  }

  private def lshPairsSqlCtes(nBits: Int, nTables: Int, floor: Double): String =
    s"""${lshBucketSqlCtes(nBits, nTables)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bkts a JOIN bkts b
       |    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT a_id, b_id FROM cand
       |  JOIN e ea ON ea.vec_id = cand.a_id
       |  JOIN e eb ON eb.vec_id = cand.b_id
       |  WHERE list_dot_product(ea.v, eb.v) /
       |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
       |    > $floor)""".stripMargin

  /** Cross-frame (bench vec_id < benchMax vs corpus vec_id ≥ benchMax)
    * replica of [[lshCrossDupPairs]] for the oracle — same planes, same
    * bucket CTE, candidates from the cross join instead of the a<b
    * self-join.
    */
  private def lshCrossSqlCtes(nBits: Int, nTables: Int, floor: Double,
      benchMax: Long): String =
    s"""${lshBucketSqlCtes(nBits, nTables)},
       |cand AS (
       |  SELECT DISTINCT c.vec_id, b.vec_id AS bench_id
       |  FROM bkts b JOIN bkts c ON b.tbl = c.tbl AND b.bkt = c.bkt
       |  WHERE b.vec_id < $benchMax AND c.vec_id >= $benchMax),
       |pairs AS (
       |  SELECT cand.vec_id, bench_id FROM cand
       |  JOIN e ec ON ec.vec_id = cand.vec_id
       |  JOIN e eb ON eb.vec_id = cand.bench_id
       |  WHERE list_dot_product(ec.v, eb.v) /
       |    (sqrt(list_dot_product(ec.v, ec.v)) * sqrt(list_dot_product(eb.v, eb.v)))
       |    > $floor)""".stripMargin

  val all: Seq[Q] = Seq(
    Q(
      "q_sim_cosine_topk",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
        val probes = emb.filter(col("vec_id") < NProbes)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
            col("nrm").as("probe_nrm"))
        val w = Window.partitionBy("probe_id")
          .orderBy(desc_nulls_last("cos_sim"), asc_nulls_first("vec_id"))
        emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("cos_sim",
            dot(col("embedding"), col("probe_vec")) / (col("nrm") * col("probe_nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= K)
          // Declared output is (ids, rank) WITHOUT the score: engines
          // accumulate the float reduction differently (measured ~1e-7
          // divergence vs DuckDB's list_cosine_similarity), so the score
          // cannot hash-match — but the RANKING is stable (min adjacent
          // cosine gap ≥ 1.9e-5 at sf0.01, 100× the divergence), making
          // ids+rank oracle-checkable. Exact score semantics are pinned in
          // SimilaritySpec against driver-side math.
          .select(col("probe_id"), col("vec_id"), col("rn").cast("long").as("rn"))
          .transform(df => sortOnce(df)(asc_nulls_first("probe_id"), asc_nulls_first("rn")))
      },
      Some("""SELECT probe_id, vec_id, rn FROM (
             |  SELECT probe_id, e.vec_id,
             |    CAST(row_number() OVER (PARTITION BY probe_id
             |      ORDER BY list_cosine_similarity(e.embedding, p.pv) DESC NULLS LAST,
             |               e.vec_id ASC NULLS FIRST) AS BIGINT) AS rn
             |  FROM embeddings e
             |  CROSS JOIN (SELECT vec_id AS probe_id, embedding AS pv
             |              FROM embeddings WHERE vec_id < 10) p
             |  WHERE e.vec_id != p.probe_id)
             |WHERE rn <= 5
             |ORDER BY probe_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_sim_cosine_lsh",
      (s, d) => {
        // Auto-sized sign-bit buckets (autoNBits: 4 bits at the 500-vector
        // verify fixture, where the statically-rendered oracle below
        // agrees) × 8 independent tables: per-table collision for a
        // cos≈0.5 neighbor at 4 bits is ~(1-θ/π)^4 ≈ 0.18, so 8 tables
        // give ~0.8 recall. Finer buckets at larger corpora keep the
        // probe-side candidate volume at probes × occupancy, not
        // probes × n.
        val embRaw = tbl(s, d, "embeddings")
        val nBits = autoNBits(embRaw.count())
        val nTables = 8
        val emb = embRaw
          .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
        // nTables independent bucketings; table t uses planes [t*nBits, (t+1)*nBits),
        // all from one codegen'd LshSignatures pass.
        val buckets = emb.select(col("vec_id"), col("embedding"), col("nrm"),
          posexplode(graft.expr.LshSignatures(col("embedding"), nBits, nTables)))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("pos").as("tbl"), col("col").as("bkt"))
        val probes = buckets.filter(col("vec_id") < NProbes)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
            col("nrm").as("probe_nrm"), col("tbl"), col("bkt"))
        val w = Window.partitionBy("probe_id")
          .orderBy(desc_nulls_last("cos_sim"), asc_nulls_first("vec_id"))
        buckets.join(broadcast(probes), Seq("tbl", "bkt"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("embedding"), col("nrm"),
            col("probe_vec"), col("probe_nrm"))
          .distinct() // same pair may collide in several tables
          .withColumn("cos_sim",
            dot(col("embedding"), col("probe_vec")) / (col("nrm") * col("probe_nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= K)
          // ids+rank declared output (upgraded ✗→✓ like topk/ivf): the
          // bucket bits and the candidate ranking are both margin-stable
          // across engines — measured min |projection| 2.5e-6 (sf0.1,
          // planes 0-31) and worst per-probe adjacent cosine gap 9.1e-5 in
          // the top-6, vs ~1e-13 divergence for the identical
          // dot/sqrt formulation the oracle uses. Exact score semantics
          // stay pinned in SimilaritySpec's recall test.
          .select(col("probe_id"), col("vec_id"), col("rn").cast("long").as("rn"))
          .transform(df => sortOnce(df)(asc_nulls_first("probe_id"), asc_nulls_first("rn")))
      },
      Some(s"""WITH ${lshBucketSqlCtes(OracleBits, 8)},
              |cand AS (
              |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id
              |  FROM bkts p JOIN bkts c ON p.tbl = c.tbl AND p.bkt = c.bkt
              |  WHERE p.vec_id < 10 AND c.vec_id != p.vec_id),
              |scored AS (
              |  SELECT probe_id, cand.vec_id,
              |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY
              |      list_dot_product(ec.v, ep.v) /
              |        (sqrt(list_dot_product(ec.v, ec.v)) * sqrt(list_dot_product(ep.v, ep.v)))
              |        DESC NULLS LAST,
              |      cand.vec_id ASC NULLS FIRST) AS BIGINT) AS rn
              |  FROM cand
              |  JOIN e ec ON ec.vec_id = cand.vec_id
              |  JOIN e ep ON ep.vec_id = cand.probe_id)
              |SELECT probe_id, vec_id, rn FROM scored WHERE rn <= 5
              |ORDER BY probe_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_sim_cosine_ivf",
      (s, d) => {
        // IVF-style ANN: a deterministic coarse quantizer (the first
        // nCells corpus vectors as centroids — a k-means fit would slot in
        // identically); every vector is assigned to its nearest centroid;
        // probes search only the top-nProbe nearest cells, then re-score
        // exactly. Candidate volume ≈ corpus × nProbe / nCells — the
        // partition-pruned alternative to LSH bucketing.
        val nCells = 16
        val nProbe = 4
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
        val cents = emb.filter(col("vec_id") < nCells)
          .select(col("vec_id").as("cell"), col("embedding").as("cvec"), col("nrm").as("cnrm"))
        // assign: nearest cell per vector (rank-1 over broadcast centroids)
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(desc_nulls_last("csim"), asc_nulls_first("cell"))
        val assigned = emb.crossJoin(broadcast(cents))
          .withColumn("csim", dot(col("embedding"), col("cvec")) / (col("nrm") * col("cnrm")))
          .withColumn("crn", row_number().over(wAssign))
          .filter(col("crn") === 1)
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
        // probes: top-nProbe cells each
        val wProbe = Window.partitionBy("probe_id")
          .orderBy(desc_nulls_last("csim"), asc_nulls_first("cell"))
        val probeCells = emb.filter(col("vec_id") < NProbes)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
            col("nrm").as("probe_nrm"))
          .crossJoin(broadcast(cents))
          .withColumn("csim", dot(col("probe_vec"), col("cvec")) / (col("probe_nrm") * col("cnrm")))
          .withColumn("crn", row_number().over(wProbe))
          .filter(col("crn") <= nProbe)
          .select(col("probe_id"), col("probe_vec"), col("probe_nrm"), col("cell"))
        // search only the probed cells; exact re-score inside
        val w = Window.partitionBy("probe_id")
          .orderBy(desc_nulls_last("cos_sim"), asc_nulls_first("vec_id"))
        assigned.join(broadcast(probeCells), Seq("cell"))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("cos_sim",
            dot(col("embedding"), col("probe_vec")) / (col("nrm") * col("probe_nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= K)
          // ids+rank declared output: every ranking point in this pipeline
          // (cell assignment, probe cells, final top-K) is margin-stable
          // across engines (min assignment gap 1.1e-5 at sf0.1, measured —
          // 100× the ~1e-7 float divergence), so the picks hash-match;
          // exact score semantics pinned in SimilaritySpec
          .select(col("probe_id"), col("vec_id"), col("rn").cast("long").as("rn"))
          .transform(df => sortOnce(df)(asc_nulls_first("probe_id"), asc_nulls_first("rn")))
      },
      Some("""WITH cents AS (
             |  SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16),
             |assign_scored AS (
             |  SELECT e.vec_id, c.cell,
             |    row_number() OVER (PARTITION BY e.vec_id
             |      ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC NULLS LAST,
             |               c.cell ASC NULLS FIRST) AS arn
             |  FROM embeddings e CROSS JOIN cents c),
             |assigned AS (SELECT vec_id, cell FROM assign_scored WHERE arn = 1),
             |probe_cells AS (
             |  SELECT vec_id AS probe_id, cell FROM assign_scored
             |  WHERE vec_id < 10 AND arn <= 4),
             |cand AS (
             |  SELECT p.probe_id, a.vec_id
             |  FROM assigned a JOIN probe_cells p USING (cell)
             |  WHERE a.vec_id != p.probe_id),
             |scored AS (
             |  SELECT probe_id, cand.vec_id,
             |    CAST(row_number() OVER (PARTITION BY probe_id
             |      ORDER BY list_cosine_similarity(e.embedding, pe.embedding) DESC NULLS LAST,
             |               cand.vec_id ASC NULLS FIRST) AS BIGINT) AS rn
             |  FROM cand
             |  JOIN embeddings e ON e.vec_id = cand.vec_id
             |  JOIN embeddings pe ON pe.vec_id = cand.probe_id)
             |SELECT probe_id, vec_id, rn FROM scored WHERE rn <= 5
             |ORDER BY probe_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_embed_neardup",
      (s, d) => {
        // Nearest neighbor per probe vector (bounded probe set) with a
        // cosine floor — the embedding-space near-dup primitive.
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
        val probes = emb.filter(col("vec_id") < 100)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
            col("nrm").as("probe_nrm"))
        val w = Window.partitionBy("probe_id")
          .orderBy(desc_nulls_last("cos_sim"), asc_nulls_first("vec_id"))
        emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("cos_sim",
            dot(col("embedding"), col("probe_vec")) / (col("nrm") * col("probe_nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("cos_sim") > 0.2)
          // ids-only declared output (same rationale as q_sim_cosine_topk:
          // the float score diverges ~1e-7 across engines, the PICK does
          // not — measured floor margin ≥0.08, rank-1 gap ≥1.7e-4)
          .select(col("probe_id"), col("vec_id").as("nn_id"))
          .transform(df => sortOnce(df)(asc_nulls_first("probe_id")))
      },
      Some("""SELECT probe_id, nn_id FROM (
             |  SELECT probe_id, e.vec_id AS nn_id,
             |    list_cosine_similarity(e.embedding, p.pv) AS cs,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY list_cosine_similarity(e.embedding, p.pv) DESC NULLS LAST,
             |               e.vec_id ASC NULLS FIRST) AS rn
             |  FROM embeddings e
             |  CROSS JOIN (SELECT vec_id AS probe_id, embedding AS pv
             |              FROM embeddings WHERE vec_id < 100) p
             |  WHERE e.vec_id != p.probe_id)
             |WHERE rn = 1 AND cs > 0.2
             |ORDER BY probe_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // CORPUS-WIDE embedding near-dup: every pair above the cosine floor,
      // whole corpus × whole corpus — the vector analog of
      // q_minhash_neardup, with no probe bound (see lshNearDupPairs for
      // plan shape + scale knobs). Oracle-checkable because the LSH planes
      // are plan-time ±1 constants rendered into the SQL; measured at
      // sf0.01: recall 0.966 (57/59 true pairs), min |projection| 3.9e-5,
      // min |cos − floor| 1.3e-4 — both 1e8× the cross-engine double-fold
      // divergence, so the bucket bits and the floor filter agree exactly.
      "q_embed_neardup_all",
      // The declared key runs the AUTO-SIZED production path: the oracle
      // SQL below is statically rendered at
      // autoNBits(VerifyFixtureEmbCount) = 4 bits, which is exactly what
      // the live auto path derives on the 500-vector verify fixture — so
      // the hash-match holds where the driver checks, and at sf10's
      // 200 k vectors the same declared key runs 13-bit buckets
      // (constant occupancy, ~linear) instead of a fixed 4-bit pin's
      // quadratic 16-bucket self-join.
      (s, d) => lshNearDupPairs(tbl(s, d, "embeddings"))
        .transform(df => sortOnce(df)(asc_nulls_first("a_id"), asc_nulls_first("b_id"))),
      Some(s"""WITH ${lshPairsSqlCtes(OracleBits, 16, 0.4)}
              |SELECT a_id, b_id FROM pairs
              |ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // SEMANTIC decontamination (two-frame LSH): the embeddings fixture
      // split as benchmark (vec_id < 100 — "the eval suite") vs corpus
      // (vec_id ≥ 100); flag every corpus vector whose cosine to ANY bench
      // vector clears the floor. Complements q_decontaminate's exact
      // 3-gram tier: a paraphrase defeats n-grams, not embedding space.
      // Same oracle argument as q_embed_neardup_all — the cross pairs are
      // a SUBSET of the all-pairs set whose floor margin (min |cos−floor|
      // 1.3e-4 at sf0.01) and bucket-bit margins were measured there, and
      // the planes are identical plan-time constants on both engines.
      // Auto-sized buckets: the oracle is rendered at OracleCrossBits =
      // autoNBits(corpus split at the verify fixture) = 4, matching what
      // the live auto path derives there (see VerifyFixtureEmbCount).
      "q_decontaminate_fuzzy",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        lshCrossDupPairs(
            corpus = emb.filter(col("vec_id") >= 100),
            bench = emb.filter(col("vec_id") < 100))
          .transform(df => sortOnce(df)(
            asc_nulls_first("vec_id"), asc_nulls_first("bench_id")))
      },
      Some(s"""WITH ${lshCrossSqlCtes(OracleCrossBits, 16, 0.4, 100L)}
              |SELECT vec_id, bench_id FROM pairs
              |ORDER BY vec_id ASC NULLS FIRST, bench_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Decontamination AUDIT REPORT: the census a curation run
      // actually ships — every corpus doc flagged by EITHER tier, with
      // per-tier evidence and the method verdict (exact n-gram hit /
      // fuzzy embedding match / both). ONE consistent held-out split
      // (ids < 100) across both tiers; both are the reusable operators
      // (Dedup.decontaminate — corpus streams against the broadcast bench
      // shingle set; lshCrossDupPairs — two-frame LSH, bench broadcast),
      // composed by a FULL OUTER join of two FLAGGED sets, each orders of
      // magnitude smaller than the corpus — the report join costs nothing
      // at 100 TB because it never touches unflagged docs.
      "q_decontaminate_report",
      (s, d) => {
        val docs = tbl(s, d, "documents").select("doc_id", "text")
        val exact = graft.ops.Dedup.decontaminate(
            docs.filter(col("doc_id") >= 100),
            docs.filter(col("doc_id") < 100))
          .select(col("doc_id"), col("n_hits").as("exact_hits"))
        val emb = tbl(s, d, "embeddings")
        val fuzzy = lshCrossDupPairs(emb.filter(col("vec_id") >= 100),
            emb.filter(col("vec_id") < 100))
          .groupBy("vec_id")
          .agg(count(lit(1)).as("fuzzy_matches"))
          .select(col("vec_id").as("doc_id"), col("fuzzy_matches"))
        exact.join(fuzzy, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("exact_hits"), lit(0L)).as("exact_hits"),
            coalesce(col("fuzzy_matches"), lit(0L)).as("fuzzy_matches"))
          .withColumn("method",
            when(col("exact_hits") > 0 && col("fuzzy_matches") > 0, "both")
              .when(col("exact_hits") > 0, "exact")
              .otherwise("fuzzy"))
          .transform(df => sortOnce(df)(asc_nulls_first("doc_id")))
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
              |sh AS (
              |  SELECT DISTINCT doc_id, unnest(
              |    CASE WHEN len(l) >= 3
              |    THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)]
              |    ELSE [array_to_string(l, ' ')] END) AS token
              |  FROM t),
              |bsh AS (SELECT DISTINCT token FROM sh WHERE doc_id < 100),
              |exact AS (
              |  SELECT s.doc_id, COUNT(DISTINCT s.token) AS exact_hits
              |  FROM sh s JOIN bsh b ON s.token = b.token
              |  WHERE s.doc_id >= 100 GROUP BY s.doc_id),
              |${lshCrossSqlCtes(OracleCrossBits, 16, 0.4, 100L)},
              |fuzzy AS (
              |  SELECT vec_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS fuzzy_matches
              |  FROM pairs GROUP BY vec_id)
              |SELECT COALESCE(ex.doc_id, fz.doc_id) AS doc_id,
              |  COALESCE(ex.exact_hits, 0) AS exact_hits,
              |  COALESCE(fz.fuzzy_matches, 0) AS fuzzy_matches,
              |  CASE WHEN COALESCE(ex.exact_hits, 0) > 0
              |        AND COALESCE(fz.fuzzy_matches, 0) > 0 THEN 'both'
              |       WHEN COALESCE(ex.exact_hits, 0) > 0 THEN 'exact'
              |       ELSE 'fuzzy' END AS method
              |FROM exact ex FULL OUTER JOIN fuzzy fz ON ex.doc_id = fz.doc_id
              |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Near-dup pairs → connected components → cluster census (a dedup
      // decision needs GROUPS; keep-one-per-cluster = keep cluster_id, the
      // min vec_id). Same iterative min-label propagation as
      // q_dedup_clusters — but HERE the pairs are oracle-replicable, so the
      // whole clustering is hash-checked against a DuckDB recursive-CTE
      // transitive closure (min reachable id ≡ min-label fixed point).
      "q_embed_clusters",
      // Auto-sized buckets, oracle rendered at OracleBits — same
      // lockstep rationale as q_embed_neardup_all above.
      (s, d) => graft.ops.Dedup.connectedComponents(
          lshNearDupPairs(tbl(s, d, "embeddings")))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
        .filter(col("cluster_size") > 1)
        .transform(df => sortOnce(df)(asc_nulls_first("cluster_id"))),
      Some(s"""WITH RECURSIVE ${lshPairsSqlCtes(OracleBits, 16, 0.4)},
              |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
              |          UNION SELECT b_id, a_id FROM pairs),
              |reach(src, dst) AS (
              |  SELECT s, s FROM edges
              |  UNION
              |  SELECT r.src, ed.t FROM reach r JOIN edges ed ON r.dst = ed.s),
              |labels AS (SELECT src, MIN(dst) AS cluster_id FROM reach GROUP BY src)
              |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
              |FROM labels GROUP BY cluster_id HAVING count(*) > 1
              |ORDER BY cluster_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Scalar int8 quantization of the embedding corpus — the compression
      // step a 100 TB ANN index actually ships (4× smaller than float32,
      // distance error bounded by per-dim resolution). Two inherent passes:
      // (1) per-dimension min/max — 64 numbers, map-side-combined to one
      // tiny frame that BROADCASTS back; (2) a narrow quantize projection
      // (no shuffle) feeding the per-vector rollup (one hash shuffle on
      // vec_id). At production scale pass 1 runs on a sample; here it is
      // exact so the oracle replicates. Output is integer-only checksums
      // of the code stream (sum/min/max per vector) — exact on both
      // engines; the one division sits inside floor() with identical
      // IEEE-754 double semantics (all inputs are exact float→double).
      "q_embed_quantize",
      (s, d) => quantizeScalar(tbl(s, d, "embeddings"))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_dims"),
          sum(col("code")).cast("long").as("code_sum"),
          min(col("code")).cast("long").as("code_min"),
          max(col("code")).cast("long").as("code_max"))
        .transform(df => sortOnce(df)(asc_nulls_first("vec_id"))),
      Some("""WITH e AS (
             |  SELECT vec_id, unnest(embedding) AS x,
             |    generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |d AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY pos),
             |c AS (
             |  SELECT vec_id,
             |    CASE WHEN mx = mn THEN 0
             |         ELSE LEAST(255, CAST(floor(
             |           (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 256.0
             |             / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) AS BIGINT))
             |    END AS code
             |  FROM e JOIN d USING (pos))
             |SELECT vec_id, COUNT(*) AS n_dims,
             |  CAST(SUM(code) AS BIGINT) AS code_sum,
             |  CAST(MIN(code) AS BIGINT) AS code_min,
             |  CAST(MAX(code) AS BIGINT) AS code_max
             |FROM c GROUP BY vec_id
             |ORDER BY vec_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // The quantized-distance scan the int8 codes exist FOR: top-5
      // neighbors per probe by squared-L2 over the quantized codes —
      // integer arithmetic end to end, so unlike every float distance in
      // this family the ranking is hash-exact across engines and the
      // whole ANN step is oracle-checkable. The DECLARED query runs the
      // engine's PACKED scan (packedQuantizedTopK: one row per
      // vector, distance as a single zip_with/aggregate fold — no per-dim
      // explode of the corpus anywhere in the distance path); the oracle
      // SQL still computes it per-dim, which is exactly the cross-check:
      // identical integer codes and distances from a 64×-shorter plan.
      // SimilaritySpec additionally pins packed ≡ per-dim on the Spark
      // side, and PlanAuditSpec pins the no-explode plan shape.
      "q_sim_quantized_topk",
      (s, d) => packedQuantizedTopK(tbl(s, d, "embeddings"), nProbes = 5, k = 5)
        .orderBy(asc_nulls_first("probe_id"), asc_nulls_first("rn")),
      Some("""WITH e AS (
             |  SELECT vec_id, unnest(embedding) AS x,
             |    generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |d AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY pos),
             |c AS (
             |  SELECT vec_id, pos,
             |    CASE WHEN mx = mn THEN 0
             |         ELSE LEAST(255, CAST(floor(
             |           (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 256.0
             |             / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) AS BIGINT))
             |    END AS code
             |  FROM e JOIN d USING (pos)),
             |p AS (SELECT vec_id AS probe_id, pos, code AS pcode FROM c WHERE vec_id < 5),
             |dist AS (
             |  SELECT p.probe_id, c.vec_id,
             |    SUM((c.code - p.pcode) * (c.code - p.pcode)) AS qdist
             |  FROM c JOIN p ON c.pos = p.pos AND c.vec_id <> p.probe_id
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT probe_id, vec_id, qdist,
             |    ROW_NUMBER() OVER (PARTITION BY probe_id
             |      ORDER BY qdist ASC NULLS FIRST, vec_id ASC NULLS FIRST) AS rn
             |  FROM dist)
             |SELECT probe_id, vec_id, CAST(qdist AS BIGINT) AS qdist,
             |  CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 5
             |ORDER BY probe_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // K-means ASSIGNMENT step over the packed int8 codes — the
      // index-build primitive behind an IVF coarse quantizer (q_sim_cosine
      // _ivf probes the cells this step constructs): every vector assigns
      // to its nearest of K centroids by squared-L2 over the quantized
      // codes, reported as the per-cell census (size + inertia). Integer
      // arithmetic end to end (same codes as q_sim_quantized_topk), so
      // unlike a float Lloyd step the assignment is hash-exact across
      // engines. Centroid "init" is the K lowest vec_ids — deterministic
      // and engine-neutral (a real build would seed k-means++ the same
      // packed way). Scale shape: the K centroid code rows broadcast; the
      // corpus streams through ONE narrow zip_with fold per centroid — no
      // explode, no shuffle until the K-row census agg; assignment
      // ordering ties break on cent_id.
      "q_kmeans_assign",
      (s, d) => {
        kmeansAssignPacked(tbl(s, d, "embeddings"), k = 8)
          .groupBy("cent_id")
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("qdist")).cast("long").as("inertia"))
          .orderBy(asc_nulls_first("cent_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, unnest(embedding) AS x,
             |    generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |d AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY pos),
             |c AS (
             |  SELECT vec_id, pos,
             |    CASE WHEN mx = mn THEN 0
             |         ELSE LEAST(255, CAST(floor(
             |           (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 256.0
             |             / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) AS BIGINT))
             |    END AS code
             |  FROM e JOIN d USING (pos)),
             |k AS (SELECT vec_id AS cent_id, pos, code AS ccode FROM c WHERE vec_id < 8),
             |dist AS (
             |  SELECT c.vec_id, k.cent_id,
             |    SUM((c.code - k.ccode) * (c.code - k.ccode)) AS qdist
             |  FROM c JOIN k USING (pos) GROUP BY 1, 2),
             |a AS (
             |  SELECT vec_id, cent_id, qdist, ROW_NUMBER() OVER (
             |    PARTITION BY vec_id
             |    ORDER BY qdist ASC NULLS FIRST, cent_id ASC NULLS FIRST) AS rn
             |  FROM dist)
             |SELECT cent_id, COUNT(*) AS n_vecs,
             |  CAST(SUM(qdist) AS BIGINT) AS inertia
             |FROM a WHERE rn = 1 GROUP BY cent_id
             |ORDER BY cent_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // K-means UPDATE step — the second Lloyd primitive, completing
      // the IVF coarse-quantizer build pair with q_kmeans_assign: per-cell
      // floor-mean of the assigned vectors' int8 codes → new centroids,
      // reported as the per-cell census (size, new-code checksums, and
      // shift_sq = ‖new − old‖² — the convergence measure a build loop
      // watches). Exact integer arithmetic end to end (floor-mean via
      // `div`), so the recomputed centroids are hash-exact across engines
      // — a float Lloyd update never is. Scale: the per-dim sum explodes
      // codes but map-side combine collapses the shuffle to K × dims rows
      // per partition (the one explode in the packed family the combine
      // justifies); old centroids rejoin as a K-row broadcast.
      "q_kmeans_update",
      (s, d) => {
        val codes = quantizePacked(tbl(s, d, "embeddings"),
            quantizeStats(tbl(s, d, "embeddings")))
          .localCheckpoint(eager = false)
        kmeansUpdatePacked(kmeansAssignFromCodes(codes, 8),
            kmeansCentroids(codes, 8))
          .select(col("cent_id"), col("n_vecs"),
            expr("aggregate(new_codes, CAST(0 AS BIGINT), (acc, v) -> acc + v)")
              .as("new_code_sum"),
            expr("array_min(new_codes)").cast("long").as("new_code_min"),
            expr("array_max(new_codes)").cast("long").as("new_code_max"),
            col("shift_sq"))
          .orderBy(asc_nulls_first("cent_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, unnest(embedding) AS x,
             |    generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |d AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY pos),
             |c AS (
             |  SELECT vec_id, pos,
             |    CASE WHEN mx = mn THEN 0
             |         ELSE LEAST(255, CAST(floor(
             |           (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 256.0
             |             / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) AS BIGINT))
             |    END AS code
             |  FROM e JOIN d USING (pos)),
             |k AS (SELECT vec_id AS cent_id, pos, code AS ccode FROM c WHERE vec_id < 8),
             |dist AS (
             |  SELECT c.vec_id, k.cent_id,
             |    SUM((c.code - k.ccode) * (c.code - k.ccode)) AS qdist
             |  FROM c JOIN k USING (pos) GROUP BY 1, 2),
             |a AS (
             |  SELECT vec_id, cent_id, ROW_NUMBER() OVER (
             |    PARTITION BY vec_id
             |    ORDER BY qdist ASC NULLS FIRST, cent_id ASC NULLS FIRST) AS rn
             |  FROM dist),
             |m AS (
             |  SELECT a.cent_id, c.pos,
             |    CAST(SUM(c.code) AS BIGINT) // COUNT(*) AS nc,
             |    COUNT(*) AS n
             |  FROM a JOIN c USING (vec_id) WHERE a.rn = 1
             |  GROUP BY a.cent_id, c.pos)
             |SELECT m.cent_id, CAST(MAX(m.n) AS BIGINT) AS n_vecs,
             |  CAST(SUM(m.nc) AS BIGINT) AS new_code_sum,
             |  CAST(MIN(m.nc) AS BIGINT) AS new_code_min,
             |  CAST(MAX(m.nc) AS BIGINT) AS new_code_max,
             |  CAST(SUM((m.nc - k.ccode) * (m.nc - k.ccode)) AS BIGINT)
             |    AS shift_sq
             |FROM m JOIN k ON m.cent_id = k.cent_id AND m.pos = k.pos
             |GROUP BY m.cent_id
             |ORDER BY m.cent_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // SemDeDup-style semantic prune (after Abbas et al. 2023):
      // collapse each semantic near-dup cluster to ONE representative and
      // emit the surviving corpus — the curation op that SHRINKS a 100 TB
      // embedding corpus, where the neardup/cluster keys only report on
      // it. Composition of the family's scale primitives: LSH-bucketed
      // candidate pairs (never all-pairs) + exact re-score →
      // connected-component clusters (O(log diameter) rounds) → keep the
      // min-id member per cluster (deterministic, id-stable across
      // reruns — a re-ingested corpus keeps the same survivors, so
      // downstream incremental consumers see no churn) → one LEFT ANTI
      // join of the corpus ids against the dropped set. The anti-join
      // probe side carries only vec_ids: the wire never moves a vector.
      // Auto-sized buckets (lshNearDupPairs' default); the oracle CTEs
      // are rendered at OracleBits = the auto answer at the verify
      // fixture, so declared key ≡ production shape at every scale.
      "q_semdedup_prune",
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        val dropped = graft.ops.Dedup.connectedComponents(
            lshNearDupPairs(emb))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id").as("vec_id"))
        emb.select(col("vec_id"))
          .join(dropped, Seq("vec_id"), "left_anti")
          .transform(df => sortOnce(df)(asc_nulls_first("vec_id")))
      },
      Some(s"""WITH RECURSIVE ${lshPairsSqlCtes(OracleBits, 16, 0.4)},
              |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
              |          UNION SELECT b_id, a_id FROM pairs),
              |reach(src, dst) AS (
              |  SELECT s, s FROM edges
              |  UNION
              |  SELECT r.src, ed.t FROM reach r JOIN edges ed ON r.dst = ed.s),
              |labels AS (SELECT src, MIN(dst) AS cluster_id FROM reach GROUP BY src)
              |SELECT vec_id FROM embeddings
              |WHERE vec_id NOT IN (SELECT src FROM labels WHERE src <> cluster_id)
              |ORDER BY vec_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // All-but-the-top embedding whitening (Mu & Viswanath-style): strip
      // the corpus's dominant principal component — the direction that
      // encodes shared boilerplate/frequency signal and washes out cosine
      // contrast — before semantic dedup or ANN. Per vector x the query
      // reports c = (x−μ)·v (score along the top PC), ‖x−μ‖² and the
      // post-removal ‖x−μ−cv‖² = ‖x−μ‖²−c² (exact identity, ‖v‖=1).
      //
      // Scale shape — the "big data, small model state" split: ONE
      // distributed pass accumulates Σx/Σxxᵀ/n into a 33 KB
      // graft.functions.GramMatrix buffer (map-side partial agg, one row
      // per partition on the exchange — the vectors never shuffle); the
      // driver closes the 64×64 eigenproblem by power iteration in
      // microseconds (bounded collect, same rationale as the bloom bitmap
      // words in Dedup); the projection pass is codegen'd HOFs against
      // plan-time literal μ/v — a second linear scan, zero joins. Sketch
      // state is engine-specific float accumulation → no cross-engine
      // oracle; EmbedWhitenSpec pins c/λ against independent reference
      // math and the norm identity row-by-row.
      "q_embed_whiten",
      (s, d) => {
        val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val (mu, v, _) = topComponent(emb)
        val muLit = typedLit(mu)
        val vLit = typedLit(v)
        emb
          .withColumn("xd", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .withColumn("cen", zip_with(col("xd"), muLit, (a, b) => a - b))
          .withColumn("c", aggregate(
            zip_with(col("cen"), vLit, (a, b) => a * b), lit(0.0), (acc, x) => acc + x))
          .withColumn("norm2_before", aggregate(
            col("cen"), lit(0.0), (acc, x) => acc + x * x))
          .select(col("vec_id"), col("c"),
            col("norm2_before"),
            (col("norm2_before") - col("c") * col("c")).as("norm2_after"))
          .orderBy(asc_nulls_first("vec_id"))
      },
      None
    ),
    Q(
      // Embedding-norm census per label — the first sanity pull on a new
      // embedding table (a label whose norms collapse toward 0 or blow
      // out signals a broken encoder run or an unnormalized mix; feeds
      // directly into whether cosine vs dot retrieval is even meaningful).
      // Float Σx² is order-dependent, so norms are QUANTIZED first — per
      // element q = floor(x·2¹⁰) is exact BIGINT on both engines (float→
      // double widening exact, ×1024 shifts only the exponent) — and per
      // vector norm2q = Σq² folds in one aggregate() HOF over the array
      // (NO per-dim explode on the engine side — the q_sim_quantized_topk
      // packed-scan thesis; the oracle unnests, which is exactly the
      // cross-check). Label rollup on the bounded frame; mean is ONE
      // division.
      "q_embed_norms",
      (s, d) => {
        val norm2q = expr(
          """aggregate(
            |  transform(embedding,
            |    x -> cast(floor(cast(x as double) * 1024.0D) as bigint)),
            |  0L, (acc, q) -> acc + q * q)""".stripMargin)
        tbl(s, d, "embeddings")
          .select(col("label").cast("long").as("label"), norm2q.as("norm2q"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("norm2q")).as("s"),
            min(col("norm2q")).as("min_norm2q"),
            max(col("norm2q")).as("max_norm2q"))
          .select(col("label"), col("n_vecs"),
            col("s").cast("long").as("norm2q_sum"),
            col("min_norm2q"), col("max_norm2q"),
            (col("s").cast("double") / col("n_vecs").cast("double"))
              .as("mean_norm2q"))
          .orderBy(asc_nulls_first("label"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0)
             |      AS BIGINT) AS q
             |  FROM embeddings),
             |n AS (SELECT vec_id, label, CAST(SUM(q * q) AS BIGINT)
             |        AS norm2q
             |      FROM e GROUP BY vec_id, label)
             |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
             |  CAST(SUM(norm2q) AS BIGINT) AS norm2q_sum,
             |  MIN(norm2q) AS min_norm2q, MAX(norm2q) AS max_norm2q,
             |  CAST(SUM(norm2q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             |    AS mean_norm2q
             |FROM n GROUP BY label
             |ORDER BY label ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // k-NN graph (knnGraphQuantized): top-3 neighbors per vector — LSH
      // candidates + integer quantized-L2 rank, hash-exact end to end
      // (see the scaladoc). Auto-sized buckets; the oracle SQL is
      // rendered at OracleBits, the auto answer at the verify fixture
      // (see VerifyFixtureEmbCount for the lockstep argument).
      // Same plane constants, same bucket CTE, same int8 quantization
      // grid as the established oracles — the graph edges and exact
      // integer distances must agree row-for-row.
      "q_knn_graph",
      (s, d) => knnGraphQuantized(tbl(s, d, "embeddings"), k = 3)
        .orderBy(asc_nulls_first("src"), asc_nulls_first("rn")),
      Some(s"""WITH ${knnEdgesSqlCtes(OracleBits, 16, 3)}
              |SELECT src, dst, CAST(qdist AS BIGINT) AS qdist,
              |  CAST(rn AS BIGINT) AS rn
              |FROM edges
              |ORDER BY src ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // PageRank over the k-NN graph — graph centrality as a CURATION
      // signal: a vector whose neighbors' neighbors keep pointing back at
      // it sits in a dense semantic region (template hub / oversampled
      // mode → downweight), a low-rank vector is a fringe sample (keep
      // for diversity). 2 unrolled power iterations, damping 0.85, in
      // FIXED-POINT INTEGER arithmetic (scale 2⁴⁰): rank flow is
      // `r div deg` and the damped update `(85·Σ) div 100` — integer
      // floor division on non-negative BIGINTs is bit-identical across
      // engines (a float PageRank can NEVER pass a hash oracle: Σ over
      // in-edges is partition-order-dependent). Every src has outdeg ≥ 1
      // and the candidate set is symmetric, so nodes = DISTINCT src — no
      // dangling mass. Scale shape: per iteration ONE edge-by-rank join
      // (edges co-partitioned on src, ranks at node grain) + one
      // map-side-combined dst sum — the classic Pregel superstep as two
      // shuffles; the 1-row node count broadcasts; edges localCheckpoint
      // once and feed deg + both iterations.
      "q_graph_pagerank",
      (s, d) => pageRankInt(
          knnGraphQuantized(tbl(s, d, "embeddings"), k = 3)
            .select("src", "dst"), iters = 2)
        .select(col("v").as("vec_id"), col("deg"), col("r").as("pr"))
        .orderBy(asc_nulls_first("vec_id")),
      Some(s"""WITH ${knnEdgesSqlCtes(OracleBits, 16, 3)},
              |deg AS (SELECT src AS v, COUNT(*) AS deg FROM edges GROUP BY 1),
              |nn AS (SELECT COUNT(*) AS n FROM deg),
              |rank0 AS (SELECT v, deg, 1099511627776 // n AS r,
              |         (15 * (1099511627776 // n)) // 100 AS tele
              |       FROM deg CROSS JOIN nn),
              |c1 AS (SELECT e.dst AS v, CAST(SUM(rank0.r // rank0.deg) AS BIGINT) AS cin
              |       FROM edges e JOIN rank0 ON rank0.v = e.src GROUP BY 1),
              |rank1 AS (SELECT rank0.v, rank0.deg, rank0.tele,
              |         rank0.tele + (85 * COALESCE(c1.cin, 0)) // 100 AS r
              |       FROM rank0 LEFT JOIN c1 ON c1.v = rank0.v),
              |c2 AS (SELECT e.dst AS v, CAST(SUM(rank1.r // rank1.deg) AS BIGINT) AS cin
              |       FROM edges e JOIN rank1 ON rank1.v = e.src GROUP BY 1),
              |rank2 AS (SELECT rank1.v, rank1.deg, rank1.tele,
              |         rank1.tele + (85 * COALESCE(c2.cin, 0)) // 100 AS r
              |       FROM rank1 LEFT JOIN c2 ON c2.v = rank1.v)
              |SELECT v AS vec_id, CAST(deg AS BIGINT) AS deg,
              |  CAST(r AS BIGINT) AS pr
              |FROM rank2
              |ORDER BY vec_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Mutual-kNN symmetrization: keep the pair only when EACH side
      // ranks the other in its own top-k — the edge filter every
      // graph-based clustering runs before clustering (UMAP's fuzzy
      // union, HDBSCAN's mutual-reachability, SNN): a one-directional
      // edge into a dense hub is an artifact of the hub's density, a
      // MUTUAL edge is evidence both points sit in the same local
      // structure. Both ranks ride along (the UMAP-style edge weight
      // inputs); qdist is symmetric so one side's copy suffices.
      // Scale shape: the symmetrization is ONE map-side-combined
      // aggregate at canonical-pair grain, not a self-join — each
      // directed edge maps to (min(src,dst), max(src,dst)) carrying its
      // rank on the side it came from, and the pair survives iff both
      // rank slots fill. A reversed-key equi-join would shuffle the edge
      // frame TWICE (both join sides) and need a localCheckpoint to share
      // it; the agg shuffles it once, combines
      // map-side, and checkpoints nothing. Each direction appears at
      // most once (the graph is rn-deduped), so min() over the one-sided
      // rank columns is exact, not a tie-break.
      "q_knn_mutual",
      (s, d) => {
        knnGraphQuantized(tbl(s, d, "embeddings"), k = 3)
          .select(
            least(col("src"), col("dst")).as("a_id"),
            greatest(col("src"), col("dst")).as("b_id"),
            col("qdist"),
            when(col("src") < col("dst"), col("rn")).as("rab"),
            when(col("src") > col("dst"), col("rn")).as("rba"))
          .groupBy("a_id", "b_id")
          .agg(min(col("qdist")).as("qdist"),
            min(col("rab")).cast("long").as("rank_ab"),
            min(col("rba")).cast("long").as("rank_ba"))
          .filter(col("rank_ab").isNotNull && col("rank_ba").isNotNull)
          .select("a_id", "b_id", "qdist", "rank_ab", "rank_ba")
          .orderBy(asc_nulls_first("a_id"), asc_nulls_first("b_id"))
      },
      Some(s"""WITH ${knnEdgesSqlCtes(OracleBits, 16, 3)}
              |SELECT a.src AS a_id, a.dst AS b_id,
              |  CAST(a.qdist AS BIGINT) AS qdist,
              |  CAST(a.rn AS BIGINT) AS rank_ab,
              |  CAST(b.rn AS BIGINT) AS rank_ba
              |FROM edges a JOIN edges b
              |  ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst
              |ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin)
    )
  )

  /** DuckDB replica of `knnGraphQuantized(k, nBits, nTables)`'s directed
    * edge set, as CTEs ending in `edges(src, dst, qdist, rn)` — shared by
    * the q_knn_graph oracle and every oracle that consumes the graph
    * (q_graph_pagerank). Same plane constants, same bucket CTE, same int8
    * quantization grid as the near-dup family.
    */
  private def knnEdgesSqlCtes(nBits: Int, nTables: Int, k: Int): String =
    s"""${lshBucketSqlCtes(nBits, nTables)},
       |knn_occ AS (SELECT tbl, bkt, COUNT(*) AS occ FROM bkts GROUP BY 1, 2),
       |knn_bsub AS (
       |  SELECT b.vec_id, b.tbl, b.bkt,
       |    CAST(CONCAT('0x', substr(md5(
       |        CAST(b.vec_id AS VARCHAR) || ':' || CAST(b.tbl AS VARCHAR)),
       |      1, 15)) AS BIGINT)
       |      % ((o.occ + ${KnnMaxBucket - 1}) // $KnnMaxBucket) AS sub
       |  FROM bkts b JOIN knn_occ o ON o.tbl = b.tbl AND o.bkt = b.bkt),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM knn_bsub a JOIN knn_bsub b
       |    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.sub = b.sub
       |      AND a.vec_id <> b.vec_id),
       |eu AS (SELECT vec_id, unnest(embedding) AS x,
       |         generate_subscripts(embedding, 1) AS pos
       |       FROM embeddings),
       |dr AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx
       |       FROM eu GROUP BY pos),
       |c AS (
       |  SELECT vec_id, pos,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE LEAST(255, CAST(floor(
       |           (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 256.0
       |             / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)))
       |           AS BIGINT))
       |    END AS code
       |  FROM eu JOIN dr USING (pos)),
       |dist AS (
       |  SELECT cand.src, cand.dst,
       |    SUM((ca.code - cb.code) * (ca.code - cb.code)) AS qdist
       |  FROM cand
       |  JOIN c ca ON ca.vec_id = cand.src
       |  JOIN c cb ON cb.vec_id = cand.dst AND cb.pos = ca.pos
       |  GROUP BY 1, 2),
       |rk AS (SELECT src, dst, qdist, ROW_NUMBER() OVER (
       |        PARTITION BY src
       |        ORDER BY qdist ASC NULLS FIRST, dst ASC NULLS FIRST)
       |        AS rn
       |      FROM dist),
       |edges AS (SELECT src, dst, qdist, rn FROM rk WHERE rn <= $k)""".stripMargin

  /** PageRank in fixed-point integer arithmetic over a directed edge
    * frame `(src, dst)` — hash-exact across engines because every step is
    * integer: r₀ = scale div N, flow = r div outdeg, damped update
    * r' = tele + (85·Σflow) div 100 with tele = (15·(scale div N)) div 100.
    * Contract: the node set is DISTINCT src (callers must pass a graph
    * where every participating node has outdeg ≥ 1 — true for any k-NN
    * graph built from a symmetric candidate set), so no dangling-node
    * mass correction is needed and Σr stays ≤ scale by induction.
    *
    * Scale shape per iteration (the Pregel superstep as plain Spark):
    * edge⋈rank on src (edges cached once via localCheckpoint, the rank
    * frame is node grain), map-side-combined SUM by dst, LEFT join back
    * to the node frame (teleport-only nodes keep their row). The 1-row
    * count frame broadcasts. For deep iteration counts re-checkpoint the
    * rank frame every ~3 rounds — lineage otherwise grows linearly.
    */
  def pageRankInt(edges: org.apache.spark.sql.DataFrame,
      iters: Int = 2, scale: Long = 1L << 40): org.apache.spark.sql.DataFrame = {
    require(iters >= 0 && scale > 0, s"need iters >= 0, scale > 0; got ($iters, $scale)")
    // localCheckpoint, not persist: the whole unrolled PageRank is ONE
    // action, so AQE's runtime exchange reuse already shares the edge
    // exchange across deg + both iterations' joins — measured: a
    // persist() here cut <5% of shuffle records while ADDING cache-fill
    // jobs and leaking a CacheManager entry per call (this function
    // returns lazily, so it can never unpersist its own cache; repeated
    // calls in a long-lived session would pin edge frames forever).
    val e = edges.select(col("src"), col("dst")).localCheckpoint(eager = false)
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val nRow = deg.agg(count(lit(1)).as("n"))
    val rank0 = deg.crossJoin(broadcast(nRow))
      .select(col("v"), col("deg"),
        expr(s"${scale}L div n").as("r"),
        expr(s"(15L * (${scale}L div n)) div 100L").as("tele"))
    (1 to iters).foldLeft(rank0) { (r, _) =>
      val contrib = e
        .join(r.select(col("v").as("src"), expr("r div deg").as("c")), "src")
        .groupBy(col("dst").as("v")).agg(sum(col("c")).as("cin"))
      r.drop("r").join(contrib, Seq("v"), "left")
        .select(col("v"), col("deg"), col("tele"),
          (col("tele") + expr("(85L * coalesce(cin, 0L)) div 100L")).as("r"))
    }
  }

  /** Per-dimension quantization ranges `(pos, mn, mx)` — the 64-row stats
    * frame every quantize path broadcasts. Exact min/max by default (what
    * the declared oracle queries replicate); at production scale pass the
    * knobs the scaladoc always promised:
    *   - `sampleFraction` < 1 computes the ranges on a DETERMINISTIC hash
    *     sample of vectors (multiplicative hash on vec_id — partition- and
    *     day-independent, same property as Pipeline.splitAssign), so the
    *     stats pass reads a fixed fraction of a 100 TB corpus;
    *   - `clipLo`/`clipHi` ∈ (0,1) replace min/max with approximate
    *     percentiles (p0.1/p99.9 style), so a single outlier value cannot
    *     inflate a dimension's range by 100× and destroy the resolution of
    *     every inlier code (the classic scalar-quantization failure).
    */
  def quantizeStats(emb: org.apache.spark.sql.DataFrame,
      sampleFraction: Double = 1.0,
      clipLo: Double = 0.0, clipHi: Double = 1.0): org.apache.spark.sql.DataFrame = {
    require(clipLo >= 0.0 && clipHi <= 1.0 && clipLo < clipHi,
      s"need 0 <= clipLo < clipHi <= 1, got ($clipLo, $clipHi)")
    val base =
      if (sampleFraction >= 1.0) emb
      else emb.filter(
        pmod(xxhash64(col("vec_id")), lit(1000000L)) <
          lit(math.max(1L, (sampleFraction * 1000000L).toLong)))
    val e = base.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
    if (clipLo <= 0.0 && clipHi >= 1.0)
      e.groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    else
      e.groupBy("pos").agg(
        percentile_approx(col("x"), lit(clipLo), lit(10000)).as("mn"),
        percentile_approx(col("x"), lit(clipHi), lit(10000)).as("mx"))
  }

  /** Scalar (per-dimension min-max) quantization: each embedding dimension
    * maps to an int code in [0, 255] against the corpus-wide per-dim range.
    * Returns the (vec_id, pos, code) long frame — the ORACLE shape (DuckDB
    * replicates it row for row); the engine's scale shape is
    * [[quantizePacked]]. `mx == mn` (constant dimension) quantizes to 0;
    * values outside a clipped range clamp to [0, 255] via the same
    * least()/floor() arithmetic on both paths.
    */
  def quantizeScalar(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    quantizeScalar(emb, quantizeStats(emb))

  def quantizeScalar(emb: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
    e.join(broadcast(stats), Seq("pos"))
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(greatest(lit(0L), least(lit(255L), floor(
            (col("x").cast("double") - col("mn").cast("double")) * lit(256.0)
              / (col("mx").cast("double") - col("mn").cast("double")))))))
      .select("vec_id", "pos", "code")
  }

  /** PACKED scalar quantization — the scale shape a real ANN index ships:
    * ONE row per vector carrying the full int8 code array, built by a
    * narrow `transform` over the embedding against the broadcast
    * position-ordered range arrays. No explode of the corpus: the only
    * per-dim frame in the plan is the 64-row stats pass. Identical code
    * values to [[quantizeScalar]] (same double arithmetic, same clamp), so
    * the per-dim frame remains the oracle cross-check for this layout.
    */
  def quantizePacked(emb: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withPackedCodes(emb, stats).select(col("vec_id"), col("codes"))

  /** [[quantizePacked]] keeping the caller's columns: appends `codes`
    * alongside the original frame (knnGraphQuantized needs embedding AND
    * codes in one pass — bucketize and carry codes without a re-join).
    */
  def withPackedCodes(emb: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // one row: per-dim ranges as position-ordered arrays (sort_array on
    // struct(pos, _) orders by pos), broadcast to every corpus partition
    val statsRow = stats.agg(
        sort_array(collect_list(struct(col("pos"), col("mn")))).as("mns"),
        sort_array(collect_list(struct(col("pos"), col("mx")))).as("mxs"))
      .select(
        expr("transform(mns, s -> cast(s.mn as double))").as("mn_arr"),
        expr("transform(mxs, s -> cast(s.mx as double))").as("mx_arr"))
    // Codes are SMALLINT on the wire (narrower types): values are 0..255
    // by construction, and the packed array rides the kNN family's
    // dominant exchange (the wide bucket shuffle) — 2 bytes per element
    // instead of a BIGINT's 8 cuts that exchange's code payload 4×. The
    // integer VALUES are those of the clamp arithmetic (the final cast is
    // exact), so every distance fold and the per-dim oracle cross-check
    // agree bit for bit; the folds (int8SquaredL2) widen to INT before
    // multiplying because a smallint product can overflow.
    emb.crossJoin(broadcast(statsRow))
      .withColumn("codes", expr(
        """transform(embedding, (x, i) ->
          |  CASE WHEN mx_arr[i] = mn_arr[i] THEN CAST(0 AS SMALLINT)
          |       ELSE CAST(greatest(CAST(0 AS BIGINT), least(CAST(255 AS BIGINT),
          |         CAST(floor((cast(x AS DOUBLE) - mn_arr[i]) * 256.0D
          |           / (mx_arr[i] - mn_arr[i])) AS BIGINT))) AS SMALLINT)
          |  END)""".stripMargin))
      .drop("mn_arr", "mx_arr")
  }

  /** The quantized-distance scan over PACKED codes: top-k neighbors per
    * probe by squared-L2 over int8 codes, integer end to end. One row per
    * (probe, vector) reaches the distance projection — a zip_with/aggregate
    * fold over the two code arrays — vs the 64×-taller per-dim agg input of
    * the oracle shape. Plan: corpus scan → narrow quantize (codes frame
    * localCheckpointed once, feeding probes AND corpus) → bounded probe set
    * BROADCAST (non-equi ≠ join, so nested-loop against ≤nProbes rows) →
    * one-pass distance projection → per-probe top-k window. At 100 TB the
    * probe broadcast and the window's (probe × corpus-survivor) shuffle are
    * the only data movement; the corpus never explodes and never shuffles.
    */
  def packedQuantizedTopK(emb: org.apache.spark.sql.DataFrame,
      nProbes: Int = NProbes, k: Int = K,
      stats: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    val codes = quantizePacked(emb, stats.getOrElse(quantizeStats(emb)))
      .localCheckpoint(eager = false)
    val probes = codes.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("codes").as("pcodes"))
    codes.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("qdist", int8SquaredL2("codes", "pcodes", "a", "b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(asc_nulls_first("qdist"), asc_nulls_first("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id"), col("qdist"),
        col("rn").cast("long").as("rn"))
  }

  /** K-means ASSIGNMENT step over packed int8 codes, shared by
    * q_kmeans_assign (census) and q_kmeans_update (centroid recompute):
    * every vector → nearest of the K centroids (init = K lowest vec_ids'
    * code rows — deterministic and engine-neutral) by squared-L2 over the
    * quantized codes. Integer arithmetic end to end, so the assignment is
    * hash-exact across engines — unlike any float Lloyd step. Scale: K
    * centroid rows broadcast; the corpus streams one zip_with fold per
    * centroid — no explode, no shuffle until the caller's rollup.
    * Returns (vec_id, codes, cent_id, qdist).
    */
  def kmeansAssignPacked(emb: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame =
    kmeansAssignFromCodes(quantizePacked(emb, quantizeStats(emb)), k)

  /** The K deterministic init centroids: the K lowest vec_ids' code rows. */
  def kmeansCentroids(codes: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame =
    codes.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("codes").as("ccodes"))

  /** Assignment over a precomputed packed-code frame (callers iterating
    * Lloyd steps checkpoint `codes` once and reuse it per round). */
  def kmeansAssignFromCodes(codes: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame =
    assignToCentroids(codes, kmeansCentroids(codes, k))

  /** Assignment against an ARBITRARY (cent_id, ccodes) frame — the shape a
    * Lloyd loop calls with each round's recomputed centroids. */
  def assignToCentroids(codes: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    codes.crossJoin(broadcast(cents))
      .withColumn("qdist", int8SquaredL2("codes", "ccodes", "a", "b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(asc_nulls_first("qdist"), asc_nulls_first("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("codes"), col("cent_id"), col("qdist"))
  }

  /** Corpus mean + top principal component + its eigenvalue, from ONE
    * distributed GramMatrix pass (33 KB of state on the exchange; the
    * bounded 1-row collect is the same rationale as the bloom bitmap
    * words in Dedup) and a driver-side 64×64 power iteration.
    */
  def topComponent(emb: org.apache.spark.sql.DataFrame, dim: Int = 64)
      : (Array[Double], Array[Double], Double) = {
    val raw = emb
      .agg(graft.functions.GramMatrix.gram(dim)(col("embedding")).as("g"))
      .head().getSeq[Double](0).toArray
    val stats = graft.functions.GramStats(dim, raw)
    val (v, lambda) = stats.topEigenvector()
    (stats.mean, v, lambda)
  }

  /** All-but-the-top whitening as a PIPELINE stage: returns the input
    * frame with `embedding` replaced by the centered vector minus its
    * projection on the corpus's top principal component, cast back to
    * float — same (vec_id, embedding) shape in and out, so it composes
    * directly in front of lshNearDupPairs / semanticPrune / the
    * quantizers. The dominant component encodes shared boilerplate /
    * frequency signal that washes out cosine contrast (Mu & Viswanath,
    * "All-but-the-Top"); removing it sharpens near-dup separation.
    * Cost: one GramMatrix aggregate + one codegen'd projection scan
    * against plan-time literal μ/v — zero joins, zero shuffles.
    */
  def whitenEmbeddings(emb: org.apache.spark.sql.DataFrame, dim: Int = 64)
      : org.apache.spark.sql.DataFrame = {
    val (mu, v, _) = topComponent(emb, dim)
    val muLit = typedLit(mu)
    val vLit = typedLit(v)
    val passthrough = emb.columns.filter(_ != "embedding").map(col)
    emb
      .withColumn("xd", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("cen", zip_with(col("xd"), muLit, (a, b) => a - b))
      .withColumn("cw", aggregate(
        zip_with(col("cen"), vLit, (a, b) => a * b), lit(0.0), (acc, x) => acc + x))
      .withColumn("embedding",
        zip_with(col("cen"), vLit, (a, b) => (a - col("cw") * b).cast("float")))
      .select(passthrough :+ col("embedding"): _*)
  }

  /** K-means UPDATE step: per-cell floor-mean of the assigned vectors'
    * codes (exact integer mean — `div` floors — so the new centroids are
    * engine-exact), plus the per-cell convergence diagnostics. The per-dim
    * sum runs as posexplode → (cent, pos)-keyed agg: map-side combine
    * bounds the shuffle at K × dims rows PER PARTITION regardless of
    * corpus size (the one place in the packed family where an explode is
    * the right shape — the combine collapses it immediately). Returns one
    * row per populated cell: (cent_id, n_vecs, new_codes, shift_sq) where
    * shift_sq = ‖new − old‖² over the code space (the Lloyd convergence
    * measure).
    */
  def kmeansUpdatePacked(assigned: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sums = assigned
      .select(col("cent_id"), posexplode(col("codes")).as(Seq("pos", "code")))
      .groupBy("cent_id", "pos")
      .agg(sum(col("code")).as("s"), count(lit(1)).as("n"))
      .withColumn("nc", expr("s div n"))
    sums.groupBy("cent_id")
      .agg(max(col("n")).as("n_vecs"),
        expr("transform(sort_array(collect_list(struct(pos, nc))), " +
          "x -> x.nc)").as("new_codes"))
      .join(broadcast(cents), Seq("cent_id"))
      .withColumn("shift_sq", expr(
        "aggregate(zip_with(new_codes, ccodes, (a, b) -> " +
          "(a - CAST(b AS BIGINT)) * (a - CAST(b AS BIGINT))), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .select(col("cent_id"), col("n_vecs"), col("new_codes"), col("shift_sq"))
  }
}
