package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family (north-star LLM-pipeline ops): exact deterministic
  * dedup, MinHash-LSH near-dup candidate pairs, and SimHash bucketing.
  *
  * Scale notes:
  *   - q_dedup_exact is a window row_number=1 per logical key — NEVER
  *     `dropDuplicates` (which keeps an arbitrary row and is therefore both
  *     nondeterministic and un-oracle-able). Shuffle is one hash partition
  *     on the dedup key; at 100 TB the key space distributes evenly.
  *   - q_minhash_neardup generates candidates by banded-LSH equi-join:
  *     32 minhashes → 8 bands × 4 rows; a pair collides iff some band
  *     signature matches. Join is on (band, signature) buckets — cost is
  *     O(sum of bucket sizes²·selectivity), never corpus².
  *   - q_simhash_dedup groups 60-bit SimHash fingerprints — constant
  *     per-doc state (60 bit sums), one groupBy on the fingerprint.
  *
  * MinHash and SimHash hash their shingles/tokens with md5 slices, a
  * standardized digest, so both tiers face the DuckDB hash oracle;
  * DedupSpec additionally pins planted-duplicate recall and the MinHash
  * Jaccard estimate.
  */
object Dedup {

  private val NumHashes = 32
  private val BandSize = 4 // → 8 bands

  /** Smallest prime above 2^32 — modulus of the MinHash permutation
    * family (see [[minhashSignatures]]). */
  private val MinhashP = 4294967311L

  /** 32 fixed affine-permutation constants (a_j odd, b_j; both 31-bit) —
    * generated by a seeded SplitMix-style recurrence at class init, so the
    * Spark plan and the rendered oracle SQL read the SAME literals. a_j·x
    * with x < 2^32 stays under 2^63: ANSI-safe on Spark, overflow-safe on
    * DuckDB BIGINT. */
  private val MinhashPerms: IndexedSeq[(Long, Long)] = {
    var s = 0x5DEECE66DL
    def next(): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L
      s >>> 33
    }
    (0 until NumHashes).map(_ => (next() | 1L, next()))
  }

  /** 64-bit hashes of the 3-token shingles of a (doc_id, text) frame,
    * exploded to a (doc_id, h1) stream — docs shorter than 3 tokens
    * contribute one whole-doc shingle. Two-step formulation, and the step
    * boundary is load-bearing:
    *
    *   1. project `th` = per-token xxhash64 array (ONE split + one hash
    *      per token per row);
    *   2. shingle hash = xxhash64 over the 3 neighboring token hashes,
    *      indexed out of the MATERIALIZED `th` attribute.
    *
    * Referencing the array through a projected attribute matters:
    * expressions inside a higher-order-function lambda get no
    * common-subexpression elimination, so `get(split(text), i)` re-runs
    * the split PER SHINGLE (measured 2× slower than even the
    * string-building formulation this replaces). Hashing token hashes is
    * the same set identity as hashing the space-joined shingle string
    * (xxhash64 mixes children in sequence and skips nulls), without
    * allocating the ~25-byte string per shingle. Shared by the exact
    * tiers (TextOps' q_jaccard_shingles, q_jaccard_containment and
    * q_ngram_novelty) — one definition, so they cannot drift apart on
    * what a shingle is.
    */
  private[ops] def shingleHashStream(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    shingleHashStreamPos(docs, 3).select("doc_id", "h1")

  /** Position-carrying generalization: 64-bit hashes of the k-token
    * shingles of a (doc_id, text) frame as (doc_id, pos, h1), where `pos`
    * is the 0-based token offset the span starts at — the column substring-
    * level dedup needs to LOCATE a repeated span, not just count it. Docs
    * shorter than k tokens contribute one whole-doc shingle at pos 0
    * (get() returns null past the end; xxhash64 skips nulls — ANSI-safe).
    */
  def shingleHashStreamPos(docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    val th = col("th")
    docs
      .select(col("doc_id"),
        transform(split(col("text"), " "), t => xxhash64(t)).as("th"))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), greatest(size(th) - k, lit(0))),
          i => xxhash64((0 until k).map(o => get(th, i + o)): _*))))
      .withColumnRenamed("col", "h1")
  }

  /** md5-slice shingle stream: 32-bit hash of each 3-token shingle STRING
    * as (doc_id, x) — `conv(substr(md5(s),1,8),16,10)` here ≡
    * `CAST('0x'||substr(md5(s),1,8) AS BIGINT)` in DuckDB, because md5 is
    * a standardized digest (unlike xxhash64's engine-specific seeding).
    * Shingle definition matches [[shingleHashStreamPos]]: one shingle per
    * token offset, docs shorter than 3 tokens contribute the whole doc.
    * MinHash reads this stream so its signatures match the oracle's bit
    * for bit; the exact tiers keep the xxhash64 [[shingleHashStream]],
    * whose tuple hashing skips the per-shingle string build (measured ~2×
    * cheaper in the scan).
    */
  private[ops] def shingleMd5Stream(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = col("toks")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), greatest(size(toks) - 3, lit(0))),
          i => conv(md5(concat_ws(" ",
            get(toks, i), get(toks, i + 1), get(toks, i + 2))).substr(1, 8),
            16, 10).cast("long"))).as("x"))
  }

  /** Per-document MinHash signature (NumHashes longs) over a
    * (doc_id, text) frame: the j-th component is min over the
    * [[shingleMd5Stream]] hashes x of (a_j·x + b_j) mod P — the classic
    * affine permutation family, all BIGINT arithmetic, bit-identical on
    * any engine. Explode → 32 MIN aggregates: the mins combine map-side,
    * so the shuffle carries 32 longs per document (a per-row 32-pass
    * array-lambda chain re-scans every shingle 32× and was measured 4×
    * slower). The component-match fraction of two signatures estimates
    * shingle-set Jaccard (σ = √(J(1−J)/k) — property-tested against exact
    * Jaccard in DedupSpec).
    */
  def minhashSignatures(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    shingleMd5Stream(docs)
      .groupBy("doc_id")
      .agg(array(MinhashPerms.map { case (a, b) =>
        min((lit(a) * col("x") + lit(b)) % lit(MinhashP))
      }: _*).as("sig"))

  /** Banded MinHash-LSH candidate pairs (a_id < b_id) over any
    * (doc_id, text) frame, from [[minhashSignatures]]. The band key is the
    * raw 4-long slice (array equality in the join), not a hash of it — a
    * band-hash collision between different slices would be invisible to
    * the oracle's exact tuple comparison, so the join is on the tuple
    * itself (Spark still hash-partitions the array key; the key is 32
    * bytes instead of 8). Reused by Pipeline.nearDupRemoval.
    */
  def minhashPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sigs = minhashSignatures(docs)
    val banded = sigs.select(col("doc_id"),
      explode(array((0 until NumHashes / BandSize).map { b =>
        struct(lit(b).as("band"),
          slice(col("sig"), b * BandSize + 1, BandSize).as("bsig"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
    // the self-join's two sides are identical subtrees — ReuseExchange
    // dedups the shuffle, so signatures are computed once without caching
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** DuckDB CTE replica of [[minhashPairs]] ending in
    * `pairs(a_id, b_id)` — rendered from the SAME MinhashPerms constants
    * the Spark plan uses (the lshPairsSqlCtes pattern). The oracle's pair
    * predicate is "ANY band's 4 components all equal", checked on an
    * a_id < b_id theta-join: all-pairs is fine at oracle scale, the
    * banded equi-join is the Spark-side production shape.
    */
  private[ops] def minhashPairsSqlCtes(table: String = "documents"): String = {
    val mins = MinhashPerms.zipWithIndex.map { case ((a, b), j) =>
      s"MIN(($a * x + $b) % $MinhashP) AS m$j"
    }.mkString(",\n       |    ").stripMargin
    val bandEq = (0 until NumHashes / BandSize).map { bnd =>
      (0 until BandSize).map { o =>
        val j = bnd * BandSize + o; s"a.m$j = b.m$j"
      }.mkString("(", " AND ", ")")
    }.mkString("\n       |      OR ").stripMargin
    s"""mh_t AS (SELECT doc_id, string_split(text, ' ') AS l FROM $table),
       |mh_sh AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(l) >= 3
       |    THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)]
       |    ELSE [array_to_string(l, ' ')] END) AS s
       |  FROM mh_t),
       |mh_x AS (SELECT doc_id,
       |    CAST(CONCAT('0x', substr(md5(s), 1, 8)) AS BIGINT) AS x
       |  FROM mh_sh),
       |mh_sig AS (SELECT doc_id,
       |    $mins
       |  FROM mh_x GROUP BY doc_id),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id
       |  WHERE $bandEq)""".stripMargin
  }

  /** Cluster near-dup candidate pairs into groups (connected components)
    * by iterative min-label propagation WITH pointer jumping: each round a
    * node adopts the minimum label in its neighborhood (one-hop
    * propagation), then shortcuts to its label's label (label ← label(
    * label) — halving every label-chain), so convergence is O(log
    * diameter) rounds, not O(diameter). Near-dup graphs are usually
    * micro-clusters, but one viral template chained through a corpus can
    * build a LONG path — the log bound is what keeps the round count sane
    * there. Rounds are whole-graph joins — distributed, no driver-side
    * graph; the driver only checks an O(1)-row convergence aggregate.
    */
  def connectedComponents(pairs: org.apache.spark.sql.DataFrame,
      maxIter: Int = 20): org.apache.spark.sql.DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** connectedComponents plus the number of rounds it took to converge
    * (including the final confirming round) — the measurable the scale
    * tests pin the O(log diameter) claim with. Empirical bound for this
    * formulation (one-hop min-propagation + one pointer jump per round):
    * ≤ 2·log₂(diameter) + 2 rounds on a pure path — each round extends
    * reach one hop and halves existing label chains, so the constant is 2,
    * not 1.
    */
  def connectedComponentsWithRounds(pairs: org.apache.spark.sql.DataFrame,
      maxIter: Int = 20): (org.apache.spark.sql.DataFrame, Int) = {
    // Undirected edge list, both directions, PLUS a self-loop per node: the
    // self-loop makes "min over neighborhood" include the node's own label,
    // so each round is ONE join + ONE aggregate (two joins per round
    // otherwise — the self-label least() needs a second join back to the
    // previous labels).
    val sym = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      // public API: callers may pass non-distinct pairs; duplicate edges
      // would multiply EVERY round's join cost (min is idempotent, so only
      // cost, not correctness, is at stake) — dedup once up front
      .distinct()
    // Materialize the edge list ONCE, already hash-partitioned by the
    // per-round join key: every propagation round joins edges on dst, and
    // a localCheckpoint would materialize it with UnknownPartitioning, so
    // every round would re-shuffle the EDGE-GRAIN frame — r rounds moving
    // the whole edge set r times (exchange reuse cannot help ACROSS
    // actions, and each round's convergence aggregate is its own
    // action). persist() keeps the cached plan's HashPartitioning(dst)
    // visible to the planner (localCheckpoint does not — measured: even an
    // eager checkpoint reports UnknownPartitioning under AQE here), so each
    // round only shuffles the node-grain label frame to meet it. The cache
    // is dropped right after the loop — the returned labels frame reads its
    // own (node-grain) checkpoint, not the edges.
    val edges = sym
      .unionByName(sym.select(col("src"), col("src").as("dst")).distinct())
      .repartition(col("dst"))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    // One propagation round: min label over self + neighbors (self-loop
    // covers the node itself), then one pointer jump — label ← label(
    // label). Labels only decrease, so the fixed point is unchanged;
    // chains halve every round (O(log d)). The lazy localCheckpoint
    // truncates the iterative lineage when the batch's sum action
    // materializes it.
    def round(cur: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val propagated = edges
        .join(cur.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("label"))
      propagated.as("x")
        .join(propagated.select(col("id").as("label"), col("label").as("ll")).as("y"),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint(eager = false)
    }
    // Convergence via the label-sum invariant: min-propagation only ever
    // DECREASES labels, so sum(label) is strictly monotone until the fixed
    // point — an O(1)-row aggregate instead of a join+count.
    // Summed in DECIMAL(38,0): labels are raw 64-bit ids, and a Long sum
    // overflows at ~1e9 large ids (ANSI throw mid-loop — or, with ANSI
    // off, two different label states wrapping to equal sums would fake
    // convergence and return WRONG clusters). 38 digits covers 10^19 ids
    // of 10^19 each.
    var prevSum: java.math.BigDecimal = null
    var it = 0
    var converged = false
    // try/finally: a Spark job failure — or the documented
    // ANSI decimal-overflow throw in the convergence sum — inside the loop
    // must not leak the edge cache entry + blocks for the session's life.
    try {
      // ONE round per convergence check. Batching 2 rounds per O(1) check
      // MEASURES WORSE at sf0.1: convergence is detected up to 2 rounds
      // late, and each late round is a full join+agg+jump pass — jobs
      // 29→40 (q_dedup_clusters) / 65→74 (q_semdedup_prune), shuffle
      // records +10-25%. The saved driver round trips are milliseconds;
      // the wasted rounds are real distributed work that grows with the
      // graph.
      while (!converged && it < maxIter) {
        val next = round(labels)
        // coalesce: sum over an EMPTY labels frame (no candidate pairs at
        // all) is null — an empty graph is trivially converged, not an NPE.
        // Superseded rounds' checkpoint blocks are reclaimed by Spark's
        // ContextCleaner once the old `labels` reference is dropped; the
        // frames are node-count-sized (the near-dup graph, not the
        // corpus), so in-flight storage is bounded by a few label copies.
        val s = next.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
        converged = s == prevSum
        prevSum = s
        labels = next
        it += 1
      }
    } finally {
      // Drop the edge cache before returning (on every exit path — normal,
      // non-convergence throw, or a mid-loop job failure): the final labels
      // frame reads its own checkpoint, so nothing downstream depends on
      // these blocks or the cache entry.
      edges.unpersist(blocking = false)
    }
    if (!converged)
      // partially-propagated labels are WRONG cluster ids — never return
      // them silently; near-dup graphs have diameter ~2-3, so hitting this
      // means the input is not a near-dup graph (or maxIter is mis-set)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(graph diameter exceeds maxIter); raise maxIter")
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")), it)
  }

  /** Test-set decontamination as a reusable operator: docs from `corpus`
    * sharing any k-token shingle with `bench` (both (doc_id, text)
    * frames), with per-doc shared-shingle counts. The benchmark's distinct
    * shingle-hash set is usually bounded (an eval suite, not a corpus), in
    * which case it BROADCASTS and the corpus streams through a broadcast
    * hash join — zero corpus shuffle before the small per-doc hit count.
    * The "bench is small" assumption is VERIFIED, not trusted: the distinct
    * hash set is materialized once (localCheckpoint) and counted, and the
    * broadcast hint only applies under `maxBroadcastShingles` (8-byte
    * hashes; the default ≈ 32 MB of key payload). A caller passing a
    * corpus-sized bench frame gets a plain shuffle join (AQE still free to
    * re-plan) instead of a driver/executor OOM.
    */
  def decontaminate(corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, k: Int = 3,
      maxBroadcastShingles: Long = 4000000L): org.apache.spark.sql.DataFrame = {
    val benchSet = shingleHashStreamPos(bench, k).select("h1").distinct()
      .localCheckpoint(eager = true) // one bench shingle pass: count + join
    val benchSide =
      if (benchSet.count() <= maxBroadcastShingles) broadcast(benchSet)
      else benchSet
    shingleHashStreamPos(corpus, k).select("doc_id", "h1")
      .join(benchSide, Seq("h1"))
      .groupBy("doc_id")
      .agg(countDistinct(col("h1")).as("n_hits"))
  }

  /** Bloom-pruned decontamination: the same contract as [[decontaminate]]
    * (per-corpus-doc count of k-shingles shared with `bench`), but the
    * corpus shingle stream is first filtered through a Bloom filter of the
    * bench shingle hashes, then exact-verified — so the OUTPUT is exact
    * (bloom false positives die in the verify join; false negatives are
    * impossible by construction: every bench shingle set its own probe
    * bits). This is the scale shape for when the bench shingle set is too
    * big for a broadcast hash join: at ~10 bits/key the bitmap is an order
    * of magnitude smaller than a hash table over the same keys (1 G
    * shingles ≈ 1.25 GB of bitmap vs tens of GB of hash table), and the
    * corpus side entering the exact join shrinks from |corpus shingles| to
    * |true hits| + fpRate·|corpus shingles| — the shuffle the fallback
    * path pays is pruned ~e^(-probes·ln2) before it happens.
    *
    * The bitmap is built DISTRIBUTED (per-word OR, map-side combinable —
    * the shuffle carries ≤ m/64 word rows, never the key set) and
    * collected once: words ≈ 10·n_bench_shingles/64 longs, the same
    * driver-bounded footprint as any broadcast build. Probing is pure
    * codegen'd integer Column arithmetic over the precomputed shingle hash
    * (per-probe seeded re-hash under a power-of-2 mask — fixed-width long
    * hashing, overflow-free under ANSI, same trick as the minhash
    * functions — then bit_get into a literal word array) — no UDF, no
    * per-row JVM call boundary, and the literal array lives once in the
    * generated class's references, never copied per row.
    */
  def bloomDecontaminate(corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, k: Int = 3,
      bitsPerKey: Int = 10, nProbes: Int = 7,
      maxBroadcastShingles: Long = 4000000L): org.apache.spark.sql.DataFrame = {
    val benchSet = shingleHashStreamPos(bench, k).select("h1").distinct()
      .localCheckpoint(eager = true) // one bench pass: count + build + join
    val nKeys = benchSet.count()
    // power-of-2 bit count → position extraction is mask/shift (codegen
    // AND); min 1024 bits keeps the tiny-bench edge simple
    val mBits = {
      var m = 1024L
      while (m < nKeys * bitsPerKey) m <<= 1
      m
    }
    val mask = mBits - 1
    // probe i of hash h: xxhash64(i, h) & mask — nProbes INDEPENDENT hash
    // functions (better than double hashing's h+i·h′ lattice, and ANSI-
    // safe: seeded re-hash cannot overflow where the additive form can)
    def probes(h: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
      (0 until nProbes).map(i => xxhash64(lit(i), h).bitwiseAND(lit(mask)))
    // distributed bitmap build: position → (word, bitmask), OR per word;
    // shiftleft with a COLUMN shift amount exists only in the SQL dialect,
    // hence the expr() on named columns
    val wordRows = benchSet
      .select(explode(array(probes(col("h1")): _*)).as("pos"))
      .selectExpr("cast(pos div 64 as int) as w",
        "shiftleft(1L, cast(pos % 64 as int)) as b")
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
      .collect()
    val words = new Array[Long]((mBits / 64).toInt)
    wordRows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    val wordsLit = typedLit(words.toSeq)
    val hit = probes(col("h1")).map { p =>
      bit_get(element_at(wordsLit, (shiftright(p, 6) + lit(1)).cast("int")),
        p.bitwiseAND(lit(63L))) === lit(1)
    }.reduce(_ && _)
    val benchSide =
      if (nKeys <= maxBroadcastShingles) broadcast(benchSet) else benchSet
    shingleHashStreamPos(corpus, k).select("doc_id", "h1")
      .filter(hit) // bloom prune — the only stage the exact path lacks
      .join(benchSide, Seq("h1")) // exact verify kills false positives
      .groupBy("doc_id")
      .agg(countDistinct(col("h1")).as("n_hits"))
  }

  /** Incremental ingestion dedup: drop docs from `batch` whose text
    * already exists in the seen corpus (represented by its xxhash64 text
    * hashes — at 100 TB the seen side IS a maintained hash index, never
    * the corpus itself; 8 bytes/doc on the wire), then keep the first
    * (min doc_id) copy per hash WITHIN the batch. The anti-join and the
    * window share one hash partitioning; AQE broadcasts the seen side
    * when it is small. Collision caveat as the hash-dedup family: a
    * 64-bit collision drops a unique doc — expectation ≪1 through the
    * billions-of-docs range.
    */
  def incrementalDedup(batch: org.apache.spark.sql.DataFrame,
      seenHashes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__h").orderBy(asc_nulls_first("doc_id"))
    batch.withColumn("__h", xxhash64(col("text")))
      .join(seenHashes.toDF("__h"), Seq("__h"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__h", "__rn")
  }

  /** Substring-level exact dedup as a reusable operator: for each doc in
    * the (doc_id, text) frame, the count of k-token spans that also occur
    * in ANOTHER document, plus the first repeated position. See
    * q_substring_dedup for the scale rationale (hash-only shuffles, dup
    * set joins back by 8-byte hash, one span materialization).
    */
  def substringDedup(docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    // NO checkpoint of the span stream: three consumers re-run the
    // tokenize+hash projection instead. The materialized copy is ~25×
    // the corpus bytes at position-carrying span grain and starved
    // aggregation execution memory at 5 M docs ([UNABLE_TO_ACQUIRE_
    // MEMORY] at the 8 GB heap) — the q_bm25/q_session_window
    // resident-copy lesson at one more grain (PROFILE_r18 §6): streaming
    // scans are repeatable at 100 TB, resident copies are impossible.
    val spans = shingleHashStreamPos(docs, k)
    val dup = spans.select("h1", "doc_id").distinct()
      .groupBy("h1").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select("h1")
    // n_spans is a pure function of the token count — max(tokens−k, 0)+1,
    // exactly the row count shingleHashStreamPos emits per doc — so it
    // computes at DOC grain from one cheap projection instead of a third
    // tokenize+8-hash explode scan + 265 M-row aggregation (that scan was
    // ~1/3 of the query's sf100 CPU; computing n_spans here keeps the span
    // passes at 2, not 3).
    val nSpans = docs.select(col("doc_id"),
      (greatest(size(split(col("text"), " ")) - k, lit(0)) + 1)
        .cast("long").as("n_spans"))
    spans.join(dup, Seq("h1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        min(col("pos")).cast("long").as("first_dup_pos"))
      .join(nSpans, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        col("first_dup_pos"),
        (col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .as("dup_ratio"))
  }

  /** Boilerplate span REMOVAL — the rewrite companion of [[substringDedup]]
    * (which only reports): every k-token span occurring in ≥ `minDocs`
    * distinct documents is excised from every document carrying it, and the
    * document text is rebuilt from the surviving tokens. This is the
    * cross-document boilerplate scrub (headers, footers, license blocks,
    * injected templates) a curation pipeline runs AFTER whole-doc dedup —
    * the duplication that survives document-level tiers because it hides
    * inside otherwise-unique documents.
    *
    * Shape at 100 TB: the span stream and the duplicated-span set shuffle
    * 8-byte hashes + int positions, never span text (shared
    * [[shingleHashStreamPos]]); covered token positions are generated from
    * the HIT spans only (bounded by hits × k, not corpus × k); the token
    * stream anti-joins on (doc_id, pos) — co-partitioned with the rebuild's
    * doc_id aggregation, so the rebuild rides the same exchange. Per-doc
    * `collect_list` state is one document's tokens — bounded by max doc
    * length, not corpus size.
    */
  def spanScrub(docs: org.apache.spark.sql.DataFrame, k: Int,
      minDocs: Int = 2): org.apache.spark.sql.DataFrame = {
    // NO checkpoint of the span stream — recompute per consumer, same
    // resident-copy rationale as substringDedup
    val spans = shingleHashStreamPos(docs, k)
    val dup = spans.select("h1", "doc_id").distinct()
      .groupBy("h1").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h1")
    // positions covered by at least one duplicated span, as ONE int-set
    // row per affected doc (collect_set dedups — the old separate
    // .distinct() exchange is folded into this aggregate's map-side
    // partials); a short doc's whole-doc shingle covers 0..k-1 —
    // past-the-end positions are harmless (array_except of a position
    // that is not in the sequence removes nothing)
    val covered = spans.join(dup, Seq("h1"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("cut"))
    // Rebuild at DOC grain with array expressions: posexploding the corpus
    // token stream and anti-joining it on (doc_id, pos) would be a
    // corpus-token-grain exchange whose HashPartitioning(doc_id, pos)
    // does NOT satisfy the rebuild aggregate's doc_id clustering, so the
    // exploded stream would shuffle TWICE (once into the join, once into
    // the collect_list rebuild, each row paying per-token framing
    // overhead) and the rebuild would be an object aggregate
    // (collect_list + sort).
    // Here the text travels ONCE, unexploded, through the doc_id join
    // exchange; the kept positions come from a hash-based array_except
    // (linear in tokens + cut size, left-order-preserving = position-
    // ascending, the same order the old struct sort produced) and the whole
    // rebuild is codegen'd array arithmetic — no generator, no object agg,
    // per-row state still bounded by one document's tokens.
    docs
      .join(covered, Seq("doc_id"), "left")
      .withColumn("toks", split(col("text"), " "))
      // null-text guard: size(null) is -1 under the legacy sizeOfNull
      // default, so an unguarded sequence(0, size-1) would yield
      // [0,-1,-2] and n_removed = -4 instead of -1 (no tokens → n_kept 0
      // → n_removed = -1 - 0). Latent only (the fixture has no null
      // text), but the operator is public — an empty kept_idx keeps
      // n_removed at -1.
      .withColumn("kept_idx",
        when(col("toks").isNull, typedLit(Seq.empty[Int]))
          .when(col("cut").isNull, expr("sequence(0, size(toks) - 1)"))
          .otherwise(expr("array_except(sequence(0, size(toks) - 1), cut)")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept_idx"))).cast("long").as("n_removed"),
        expr("array_join(transform(kept_idx, i -> element_at(toks, i + 1)), ' ')")
          .as("scrubbed"))
  }

  val all: Seq[Q] = Seq(
    Q(
      "q_dedup_exact",
      (s, d) => {
        // First event per (user_id, event_type) by (ts, event_id).
        // ts is compared at second granularity on both engines (events.ts is
        // parquet ns — Spark truncates to µs, DuckDB keeps ns; sub-second
        // ordering would diverge). event_id is the unique tiebreak.
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(asc_nulls_first("ts_sec"), asc_nulls_first("event_id"))
        tbl(s, d, "events")
          .withColumn("ts_sec", date_trunc("second", col("ts")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
          .orderBy(asc_nulls_first("user_id"), asc_nulls_first("event_type"))
      },
      Some("""SELECT user_id, event_type, event_id, value FROM (
             |  SELECT user_id, event_type, event_id, value,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |      ORDER BY date_trunc('second', ts) ASC NULLS FIRST,
             |               event_id ASC NULLS FIRST) AS rn
             |  FROM events
             |) WHERE rn = 1
             |ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_dedup_docs_exact",
      (s, d) => {
        // Exact corpus dedup by content hash-groupBy (the cheapest dedup
        // tier): keep the lowest doc_id per identical text, report group
        // size. Shuffle carries (hash, min-id, count) partial states — at
        // corpus scale group on xxhash64(text) so the wire never carries
        // full documents; here the oracle needs engine-neutral keys, so the
        // SQL groups on text while Spark groups on (hash, text) — same
        // groups, hash is only a shuffle-key prefix.
        tbl(s, d, "documents")
          .groupBy(xxhash64(col("text")).as("h"), col("text"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("grp_size"))
          .select(col("keep_id"), col("grp_size"),
            length(col("text")).cast("int").as("text_len"))
          .orderBy(asc_nulls_first("keep_id"))
      },
      Some("""SELECT keep_id, grp_size, text_len FROM (
             |  SELECT MIN(doc_id) AS keep_id, COUNT(*) AS grp_size,
             |    CAST(LENGTH(text) AS INT) AS text_len
             |  FROM documents GROUP BY text
             |) ORDER BY keep_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_minhash_neardup",
      (s, d) => {
        // Banded MinHash-LSH candidate pairs over documents (md5-slice
        // shingle hash + affine perms; see minhashPairs), so the full
        // banded pipeline faces a DuckDB hash oracle.
        minhashPairs(tbl(s, d, "documents").select("doc_id", "text"))
          .transform(df => sortOnce(df)(asc_nulls_first("a_id"), asc_nulls_first("b_id")))
      },
      Some(s"""WITH ${minhashPairsSqlCtes()}
              |SELECT a_id, b_id FROM pairs
              |ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Edit-distance near-dup tier. |len(a)−len(b)| ≤ k is a NECESSARY
      // condition for levenshtein ≤ k, and it becomes an EQUI-join via
      // bucket expansion (bucket width k+1; each left row probes its 3
      // covering buckets, the right row sits in exactly one — no dup
      // pairs, no nested loop; the plan audit rejects the naive theta-join
      // formulation). The O(n·m) DP runs only on length-compatible pairs.
      // DECLARED SCOPE: the query caps the input at doc_id < 40 — the
      // character-level DP is O(len²) per surviving pair and is honestly
      // a small-set tier (fuzzy-match a bounded blocklist, not a corpus);
      // the corpus-scale near-dup paths are the MinHash/SimHash tiers.
      // k=60 sits above the fixture's PLANTED near-dup pairs (measured
      // min pairwise distance in the doc_id<40 slice: 8 at sf0.001, 47
      // at sf0.01 on ~300-char docs) so the key proves a NON-EMPTY
      // answer at both driver verify scales — at the old k=20 the sf0.01
      // output was empty and a sign-flipped predicate would still have
      // hash-matched. NonVacuousSpec additionally plants a
      // within-threshold pair synthetically.
      "q_edit_distance",
      (s, d) => {
        val k = 60L
        val docs = tbl(s, d, "documents")
          .filter(col("doc_id") < 40)
          .select(col("doc_id"), col("text"),
            length(col("text")).cast("long").as("len"))
          .withColumn("bkt", floor(col("len") / (k + 1)).cast("long"))
        val probes = docs
          .withColumn("jb", explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
        probes.as("a").join(docs.as("b"),
            col("a.jb") === col("b.bkt") &&
              col("a.doc_id") < col("b.doc_id") &&
              abs(col("a.len") - col("b.len")) <= k)
          .withColumn("dist", levenshtein(col("a.text"), col("b.text")).cast("long"))
          .filter(col("dist") <= k)
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"), col("dist"))
          .orderBy(asc_nulls_first("a_id"), asc_nulls_first("b_id"))
      },
      Some("""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
             |FROM (SELECT doc_id, text FROM documents WHERE doc_id < 40) a
             |JOIN (SELECT doc_id, text FROM documents WHERE doc_id < 40) b
             |  ON a.doc_id < b.doc_id
             | AND abs(LENGTH(a.text) - LENGTH(b.text)) <= 60
             |WHERE levenshtein(a.text, b.text) <= 60
             |ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Near-dup pair clustering: MinHash-LSH candidate pairs → connected
      // components (a dedup decision needs GROUPS, not pairs — keep one
      // doc per cluster). The md5-slice MinHash pairs (see
      // q_minhash_neardup) + the q_embed_clusters-proven recursive-CTE
      // transitive closure give this a full DuckDB hash oracle;
      // DedupSpec's planted clusters still pin recall semantics.
      "q_dedup_clusters",
      (s, d) => {
        connectedComponents(minhashPairs(
            tbl(s, d, "documents").select("doc_id", "text")))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("cluster_size"),
            min(col("doc_id")).as("keep_id"))
          .filter(col("cluster_size") > 1)
          .transform(df => sortOnce(df)(asc_nulls_first("cluster_id")))
      },
      Some(s"""WITH RECURSIVE ${minhashPairsSqlCtes()},
              |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
              |          UNION SELECT b_id, a_id FROM pairs),
              |reach(src, dst) AS (
              |  SELECT s, s FROM edges
              |  UNION
              |  SELECT r.src, ed.t FROM reach r JOIN edges ed ON r.dst = ed.s),
              |labels AS (SELECT src, MIN(dst) AS cluster_id FROM reach GROUP BY src)
              |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
              |  MIN(src) AS keep_id
              |FROM labels GROUP BY cluster_id HAVING count(*) > 1
              |ORDER BY cluster_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_simhash_dedup",
      (s, d) => {
        // 60-bit SimHash per document from PORTABLE token hashes: bit j of
        // the fingerprint is the sign of sum over distinct tokens of ±1 on
        // bit j of the token's md5-slice hash (15 hex chars = 60 bits —
        // the width where both engines' integer arithmetic is exact and
        // sign-free, and the reason this key can face a DuckDB hash
        // oracle). Explode → hash once per token → 60 SUM
        // partial aggregates (map-side combine; shuffle = 60 longs/doc),
        // then assemble the fingerprint and group. Hash each token ONCE in
        // the projection; the 60 bit-sum aggregates only shift/mask the
        // precomputed hash (a digest inside every aggregate expression
        // would re-hash 60× per token — CSE does not cross aggregate
        // boundaries).
        val bitAgg = (j: Int) =>
          sum(when(shiftright(col("th"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
        val bitSums = tbl(s, d, "documents")
          .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
          .select(col("doc_id"),
            conv(md5(col("tok")).substr(1, 15), 16, 10).cast("long").as("th"))
          .groupBy("doc_id")
          .agg(bitAgg(0), (1 until 60).map(bitAgg): _*)
        // disjoint bit values, so + ≡ bitwise OR — rendered as + on both
        // engines (DuckDB's << overflows at bit 63; literals side-step it)
        val fp = (0 until 60).map(j =>
          when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
        bitSums
          .select(col("doc_id"), fp.as("simhash"))
          .groupBy("simhash")
          .agg(count(lit(1)).as("grp_size"), min(col("doc_id")).as("keep_id"))
          .filter(col("grp_size") > 1)
          .transform(df => sortOnce(df)(asc_nulls_first("simhash")))
      },
      Some {
        val bitSums = (0 until 60).map(j =>
          s"SUM(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
          .mkString(",\n    ")
        val fp = (0 until 60).map(j =>
          s"CASE WHEN b$j >= 0 THEN ${1L << j} ELSE 0 END")
          .mkString(" +\n    ")
        s"""WITH sh_tok AS (
           |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |sh_th AS (SELECT doc_id,
           |    CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS th
           |  FROM sh_tok),
           |sh_bits AS (SELECT doc_id,
           |    $bitSums
           |  FROM sh_th GROUP BY doc_id),
           |sh_fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash
           |  FROM sh_bits)
           |SELECT simhash, CAST(COUNT(*) AS BIGINT) AS grp_size,
           |  MIN(doc_id) AS keep_id
           |FROM sh_fp GROUP BY simhash HAVING COUNT(*) > 1
           |ORDER BY simhash ASC NULLS FIRST""".stripMargin
      }
    ),
    Q(
      // Test-set decontamination: corpus docs sharing any 3-token shingle
      // with a held-out benchmark set (here doc_id < 20 stands in for the
      // eval set) must be flagged before training. Shape at 100 TB: the
      // benchmark's distinct shingle-hash set is bounded (an eval suite,
      // not the corpus), so it BROADCASTS and the corpus side streams
      // through a broadcast hash join — no corpus shuffle at all before
      // the small per-doc hit count. Same shingle definition/hash as both
      // dedup tiers (Dedup.shingleHashStream).
      "q_decontaminate",
      (s, d) => {
        // Delegates to the reusable operator; the benchmark side shingles
        // only its own 20 docs (pushed-down filter), so the expensive
        // corpus shingle pass runs exactly once — a second corpus scan
        // cannot occur in this form.
        val docs = tbl(s, d, "documents").select("doc_id", "text")
        decontaminate(docs.filter(col("doc_id") >= 20),
            docs.filter(col("doc_id") < 20))
          .orderBy(asc_nulls_first("doc_id"))
      },
      // the oracle builds the SAME shingle sets from strings — shared-
      // shingle counts are identical modulo a 64-bit hash collision
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, unnest(
             |    CASE WHEN len(l) >= 3
             |    THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)]
             |    ELSE [array_to_string(l, ' ')] END) AS token
             |  FROM t),
             |bench AS (SELECT DISTINCT token FROM sh WHERE doc_id < 20)
             |SELECT s.doc_id, COUNT(DISTINCT s.token) AS n_hits
             |FROM sh s JOIN bench b ON s.token = b.token
             |WHERE s.doc_id >= 20
             |GROUP BY s.doc_id
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Bloom-pruned decontamination: same answer as
      // q_decontaminate — the bloom is a PRUNE, exact-verified, so false
      // positives cannot surface — via a ~10-bits/key bitmap of the bench
      // shingle hashes probed with codegen'd integer arithmetic. The
      // 100 TB role: when the bench shingle set outgrows a broadcast hash
      // join, the bitmap (order-of-magnitude smaller) still ships to every
      // task and prunes the corpus stream BEFORE the shuffle the exact
      // fallback path would pay. Bloom/exact equivalence is additionally
      // pinned property-style in DedupSpec; the oracle is the exact
      // semantics, shared with q_decontaminate.
      "q_bloom_decontaminate",
      (s, d) => {
        val docs = tbl(s, d, "documents").select("doc_id", "text")
        bloomDecontaminate(docs.filter(col("doc_id") >= 20),
            docs.filter(col("doc_id") < 20))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, unnest(
             |    CASE WHEN len(l) >= 3
             |    THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)]
             |    ELSE [array_to_string(l, ' ')] END) AS token
             |  FROM t),
             |bench AS (SELECT DISTINCT token FROM sh WHERE doc_id < 20)
             |SELECT s.doc_id, COUNT(DISTINCT s.token) AS n_hits
             |FROM sh s JOIN bench b ON s.token = b.token
             |WHERE s.doc_id >= 20
             |GROUP BY s.doc_id
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Substring-level exact dedup (dedup of training SPANS, not whole
      // documents — the standard tier whole-doc dedup misses): flag every
      // document containing a k-token span that also occurs in another
      // document, with the span count and the first repeated position.
      // Shape at 100 TB: distinct (span-hash, doc) then a per-hash doc
      // count — both stages map-side combinable, shuffling 8-byte hashes,
      // never span text; the dup-span set joins back by hash (an equi-join
      // AQE broadcasts when the dup set is small, and that degrades to a
      // plain hash-shuffle join when it isn't — no plan rewrite needed).
      // The spans frame feeds three consumers and is RECOMPUTED per
      // consumer, not checkpointed — see substringDedup.
      "q_substring_dedup",
      (s, d) => {
        substringDedup(tbl(s, d, "documents").select("doc_id", "text"), k = 8)
          .orderBy(asc_nulls_first("doc_id"))
      },
      // oracle builds the SAME k-token spans as strings (counts identical
      // modulo a 64-bit hash collision, as with q_decontaminate)
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh AS (
             |  SELECT doc_id, unnest(
             |    CASE WHEN len(l) >= 8
             |    THEN [{'pos': i - 1, 'tok': array_to_string(l[i:i+7], ' ')}
             |          FOR i IN range(1, len(l) - 6)]
             |    ELSE [{'pos': 0, 'tok': array_to_string(l, ' ')}] END) AS u
             |  FROM t),
             |s2 AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM sh),
             |dup AS (
             |  SELECT tok FROM (
             |    SELECT tok, COUNT(DISTINCT doc_id) AS nd FROM s2 GROUP BY tok)
             |  WHERE nd >= 2),
             |hits AS (
             |  SELECT doc_id, COUNT(*) AS n_dup_spans,
             |    CAST(MIN(pos) AS BIGINT) AS first_dup_pos
             |  FROM s2 WHERE tok IN (SELECT tok FROM dup) GROUP BY doc_id),
             |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM s2 GROUP BY doc_id)
             |SELECT h.doc_id, t2.n_spans, h.n_dup_spans, h.first_dup_pos,
             |  CAST(h.n_dup_spans AS DOUBLE) / t2.n_spans AS dup_ratio
             |FROM hits h JOIN tot t2 ON h.doc_id = t2.doc_id
             |ORDER BY h.doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Boilerplate span REMOVAL (spanScrub): the rewrite companion of
      // q_substring_dedup — cross-document k-token spans are excised and
      // the text REBUILT, so the oracle checks the actual scrubbed string,
      // not just counts. k=4 (vs the report tier's 8) keeps the planted
      // fixture templates short enough to hit at sf0.01 doc lengths.
      "q_boilerplate_scrub",
      (s, d) => {
        spanScrub(tbl(s, d, "documents").select("doc_id", "text"), k = 4)
          .orderBy(asc_nulls_first("doc_id"))
      },
      // oracle rebuilds from unnested (pos, tok) minus the positions
      // covered by any ≥2-doc span — span identity by STRING (identical to
      // the engine's hash identity modulo a 64-bit collision, as with
      // q_substring_dedup)
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh AS (
             |  SELECT doc_id, unnest(
             |    CASE WHEN len(l) >= 4
             |    THEN [{'pos': i - 1, 'tok': array_to_string(l[i:i+3], ' ')}
             |          FOR i IN range(1, len(l) - 2)]
             |    ELSE [{'pos': 0, 'tok': array_to_string(l, ' ')}] END) AS u
             |  FROM t),
             |s2 AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM sh),
             |dup AS (
             |  SELECT tok FROM (
             |    SELECT tok, COUNT(DISTINCT doc_id) AS nd FROM s2 GROUP BY tok)
             |  WHERE nd >= 2),
             |covered AS (
             |  SELECT DISTINCT s2.doc_id, s2.pos + r.j AS pos
             |  FROM s2, range(0, 4) r(j)
             |  WHERE s2.tok IN (SELECT tok FROM dup)),
             |toks AS (
             |  SELECT doc_id, unnest(
             |    [{'pos': i - 1, 'tok': l[i]} FOR i IN range(1, len(l) + 1)]) AS u
             |  FROM t),
             |tk AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM toks),
             |kept AS (
             |  SELECT tk.doc_id, COUNT(*) AS n_kept,
             |    string_agg(tk.tok, ' ' ORDER BY tk.pos) AS scrubbed
             |  FROM tk
             |  WHERE NOT EXISTS (SELECT 1 FROM covered c
             |    WHERE c.doc_id = tk.doc_id AND c.pos = tk.pos)
             |  GROUP BY tk.doc_id)
             |SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
             |  CAST(len(t.l) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
             |  COALESCE(k.scrubbed, '') AS scrubbed
             |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
             |ORDER BY t.doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Keep-best dedup: canonical-document SELECTION, not just removal —
      // docs clustering on a canonical key (here: the first 8 tokens, the
      // cheap prefix-fingerprint tier between exact text equality and
      // MinHash) keep only the best representative (max n_chars, doc_id
      // tiebreak), with the cluster size as audit. The quality-aware twin
      // of q_dedup_docs_exact: when near-identical docs differ in length
      // (truncation, boilerplate strip), the pipeline must keep the
      // RICHEST copy, not the lowest id. One hash shuffle on
      // xxhash64(prefix) — the window key is the 8-byte hash, so the wire
      // carries no prefix strings (same convention as the exact-corpus
      // tier; a 64-bit collision merges two clusters, expectation ≪1 at
      // any real corpus size — but the ORACLE groups on the string, so
      // the gate itself proves collision-freedom at test scale).
      "q_dedup_keep_best",
      (s, d) => {
        val ckey = xxhash64(array_join(slice(split(col("text"), " "), 1, 8), " "))
        val byKey = Window.partitionBy("ckey")
        val docs = tbl(s, d, "documents").withColumn("ckey", ckey)
        docs
          .withColumn("rn", row_number().over(byKey.orderBy(
            desc_nulls_last("n_chars"), asc_nulls_first("doc_id"))))
          .withColumn("cluster_size", count(lit(1)).over(byKey))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("cluster_size").cast("long").as("cluster_size"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH k AS (
             |  SELECT doc_id, lang, n_chars,
             |    array_to_string(string_split(text, ' ')[1:8], ' ') AS ckey
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, lang, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY ckey
             |      ORDER BY n_chars DESC NULLS LAST, doc_id ASC NULLS FIRST) AS rn,
             |    COUNT(*) OVER (PARTITION BY ckey) AS cluster_size
             |  FROM k)
             |SELECT doc_id, lang, n_chars, CAST(cluster_size AS BIGINT) AS cluster_size
             |FROM r WHERE rn = 1
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Ingestion-time dedup: the arriving batch (doc_id ≥ 100, standing
      // in for today's crawl) dedups against the already-ingested corpus
      // (doc_id < 100) AND within itself — the incremental tier every
      // continuously-fed training corpus runs, distinct from the
      // whole-corpus tiers (q_dedup_docs_exact) and the fuzzy cross-frame
      // tier (q_decontaminate). See Dedup.incrementalDedup for the
      // hash-index scale shape.
      "q_dedup_incremental",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val seen = docs.filter(col("doc_id") < 100)
          .select(xxhash64(col("text")).as("h")).distinct()
        incrementalDedup(docs.filter(col("doc_id") >= 100), seen)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH seen AS (
             |  SELECT DISTINCT text FROM documents WHERE doc_id < 100),
             |b AS (
             |  SELECT * FROM documents
             |  WHERE doc_id >= 100 AND text NOT IN (SELECT text FROM seen)),
             |r AS (
             |  SELECT doc_id, lang, source, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY text
             |      ORDER BY doc_id ASC NULLS FIRST) AS rn
             |  FROM b)
             |SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Per-source duplication census: exact-dup ratio by source —
      // the triage report that tells a curation run WHERE its duplication
      // lives before any dedup executes. Spark counts distinct 8-byte
      // content hashes (the family's wire convention: strings never
      // shuffle), the oracle counts distinct texts — equal modulo a
      // 64-bit collision (expectation ≪ 1 through billions of docs, same
      // caveat as the shingle family). Exact integer numerators, ONE
      // final IEEE division.
      "q_dup_ratio_by_source",
      (s, d) => {
        tbl(s, d, "documents")
          .select(col("source"), xxhash64(col("text")).as("h"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("h")).as("n_uniq"))
          .select(col("source"), col("n_docs"), col("n_uniq"),
            (lit(1.0) - col("n_uniq").cast("double") /
              col("n_docs").cast("double")).as("dup_ratio"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_uniq,
             |  1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) /
             |    CAST(COUNT(*) AS DOUBLE) AS dup_ratio
             |FROM documents GROUP BY source
             |ORDER BY source ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Dedup threshold-sweep curve: how many near-dup pairs (and
      // how many affected docs) each Jaccard threshold in {0.5..0.9}
      // would flag — the KNOB-TUNING table a curation run reads before
      // committing to a threshold (too low: false merges; too high:
      // missed dups; the curve's elbow is the decision). Candidates come
      // from the MINHASH-BANDED tier (minhashPairs — the same
      // pipeline the production dedup runs, so the curve tunes the knob
      // for the pipeline that will actually use it; an exact
      // inverted-index sweep's intersection shuffle out-scales the
      // corpus — disk-full at 500 k docs), then
      // each candidate is re-scored with its EXACT shingle-set Jaccard
      // (expand only candidate pairs' shingles — cost ∝ candidates, not
      // corpus²) and a 5-row broadcast threshold cross counts the curve.
      // Integer cross-multiplication (inter·100 > union·pct) decides
      // membership, so the curve is hash-exact; LEFT join + zero-fill ⇒
      // a row per threshold always (a threshold that flags nothing is
      // itself the answer). Low-threshold counts are LSH-recall-bounded
      // by construction — exactly like the production dedup pass.
      "q_dedup_threshold_sweep",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        // distinct md5-slice shingles feed the exact re-score of BOTH pair
        // sides and the per-doc set sizes — RECOMPUTED per consumer, not
        // checkpointed: the materialized (doc_id, hash) frame at 5 M docs
        // starved aggregation execution memory at the 8 GB heap (the
        // resident-copy pattern q_bm25/q_substring_dedup hit;
        // PROFILE_r18 §6)
        val sh = Dedup.shingleMd5Stream(docs).distinct()
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val cand = Dedup.minhashPairs(docs)
        val inter = cand
          .join(sh.select(col("doc_id").as("a_id"), col("x")), "a_id")
          .join(sh.select(col("doc_id").as("b_id"), col("x")), Seq("b_id", "x"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter_cnt"))
        val pairs = inter
          .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sza")), "a_id")
          .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("szb")), "b_id")
          .select(col("a_id"), col("b_id"), col("inter_cnt"),
            (col("sza") + col("szb") - col("inter_cnt")).as("union_cnt"))
          .localCheckpoint(eager = false) // feeds both per-threshold censuses
        val th = s.range(5, 10).select((col("id") * 10).as("threshold_pct"))
        val flagged = pairs.crossJoin(broadcast(th))
          .filter(col("inter_cnt") * 100 > col("union_cnt") * col("threshold_pct"))
        val nPairs = flagged.groupBy("threshold_pct")
          .agg(count(lit(1)).as("n_pairs"))
        val nDocs = flagged
          .select(col("threshold_pct"),
            explode(array(col("a_id"), col("b_id"))).as("doc_id"))
          .groupBy("threshold_pct")
          .agg(count_distinct(col("doc_id")).as("n_docs"))
        th.join(nPairs, Seq("threshold_pct"), "left")
          .join(nDocs, Seq("threshold_pct"), "left")
          .select(col("threshold_pct"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"))
          .orderBy(asc_nulls_first("threshold_pct"))
      },
      Some(s"""WITH ${Dedup.minhashPairsSqlCtes()},
             |shd AS (SELECT DISTINCT doc_id, x FROM mh_x),
             |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shd GROUP BY doc_id),
             |inter AS (
             |  SELECT p.a_id, p.b_id, COUNT(*) AS inter_cnt
             |  FROM pairs p
             |  JOIN shd a ON a.doc_id = p.a_id
             |  JOIN shd b ON b.doc_id = p.b_id AND b.x = a.x
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT i.a_id, i.b_id, i.inter_cnt,
             |    sa.sz + sb.sz - i.inter_cnt AS union_cnt
             |  FROM inter i
             |  JOIN sizes sa ON sa.doc_id = i.a_id
             |  JOIN sizes sb ON sb.doc_id = i.b_id),
             |th AS (SELECT unnest([50, 60, 70, 80, 90]) AS threshold_pct),
             |fl AS (
             |  SELECT th.threshold_pct, p.a_id, p.b_id
             |  FROM th JOIN scored p
             |    ON p.inter_cnt * 100 > p.union_cnt * th.threshold_pct),
             |np AS (SELECT threshold_pct, COUNT(*) AS n_pairs
             |       FROM fl GROUP BY 1),
             |nd AS (SELECT threshold_pct, COUNT(DISTINCT doc_id) AS n_docs
             |       FROM (SELECT threshold_pct, a_id AS doc_id FROM fl
             |             UNION ALL
             |             SELECT threshold_pct, b_id FROM fl)
             |       GROUP BY 1)
             |SELECT CAST(th.threshold_pct AS BIGINT) AS threshold_pct,
             |  CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
             |  CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
             |FROM th
             |LEFT JOIN np ON np.threshold_pct = th.threshold_pct
             |LEFT JOIN nd ON nd.threshold_pct = th.threshold_pct
             |ORDER BY threshold_pct ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Contamination rate by source — the governance rollup of
      // q_decontaminate: WHICH sources carry benchmark leakage, and how
      // much (the number a release review quotes, where q_decontaminate's
      // per-doc rows are the evidence). The decontaminate operator yields
      // hit doc_ids (bench shingles broadcast with the count guard; the
      // corpus streams through); the rollup is an 8-byte-key semi-join of
      // (doc_id, source) against the hit set plus one bounded per-source
      // aggregate — exact integer counts, ONE final division.
      "q_contamination_by_source",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val corpus = docs.filter(col("doc_id") >= 20)
        val hits = decontaminate(corpus.select("doc_id", "text"),
          docs.filter(col("doc_id") < 20).select("doc_id", "text"))
        val contaminated = corpus.select("doc_id", "source")
          .join(hits.select("doc_id"), Seq("doc_id"), "left_semi")
          .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
        corpus.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .join(contaminated, Seq("source"), "left")
          .withColumn("n_contaminated",
            coalesce(col("n_contaminated"), lit(0L)))
          .withColumn("rate",
            col("n_contaminated").cast("double") / col("n_docs").cast("double"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, unnest(
             |    CASE WHEN len(l) >= 3
             |    THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)]
             |    ELSE [array_to_string(l, ' ')] END) AS token
             |  FROM t),
             |bench AS (SELECT DISTINCT token FROM sh WHERE doc_id < 20),
             |hit AS (SELECT DISTINCT s.doc_id FROM sh s
             |        JOIN bench b ON s.token = b.token
             |        WHERE s.doc_id >= 20)
             |SELECT d.source, COUNT(*) AS n_docs,
             |  COUNT(h.doc_id) AS n_contaminated,
             |  CAST(COUNT(h.doc_id) AS DOUBLE) / COUNT(*) AS rate
             |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
             |WHERE d.doc_id >= 20
             |GROUP BY d.source
             |ORDER BY source ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Exact-dup cluster-size histogram — the census a dedup run reports
      // before anyone picks a keep policy (a corpus whose mass sits in
      // size-50 clusters needs different handling than one of pairs; the
      // per-doc members are q_dedup_docs_exact's business, this is the
      // distribution). Two-level rollup: text-keyed cluster sizes in one
      // map-side-combined shuffle (64-bit text hash as the grouping key —
      // the q_dedup_exact precedent: strings never shuffle), then the
      // bounded size histogram with a share-of-corpus window; counts
      // exact BIGINT, share ONE final division.
      "q_dup_cluster_sizes",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        tbl(s, d, "documents")
          .groupBy(xxhash64(col("text")).as("h"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("sz"))
          .agg(count(lit(1)).as("n_clusters"))
          .withColumn("n_docs", col("sz") * col("n_clusters"))
          .withColumn("doc_share",
            col("n_docs").cast("double") /
              sum(col("n_docs")).over(
                W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
                .cast("double"))
          .orderBy(asc_nulls_first("sz"))
      },
      Some("""WITH c AS (
             |  SELECT text, COUNT(*) AS sz FROM documents GROUP BY text),
             |h AS (SELECT sz, COUNT(*) AS n_clusters,
             |        CAST(sz * COUNT(*) AS BIGINT) AS n_docs
             |      FROM c GROUP BY sz)
             |SELECT sz, n_clusters, n_docs,
             |  CAST(n_docs AS DOUBLE)
             |    / CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE)
             |    AS doc_share
             |FROM h ORDER BY sz ASC NULLS FIRST""".stripMargin)
    )
  )
}
