package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed training-data preprocessing pipeline — the flow a 100 TB
  * corpus actually runs, built entirely from this engine's operators:
  *
  *   quality filter → exact dedup → (near-dup removal) → per-lang stats
  *
  * Every stage is a narrow filter or a keyed aggregation/window — the
  * pipeline inherits each operator's scale shape (no stage introduces an
  * unkeyed shuffle or a driver-side loop).
  *
  * q_pipeline_clean (✓ oracle): quality gate + exact dedup + stats — fully
  * relational, DuckDB-checkable.
  * q_pipeline_full (✓ oracle): additionally removes MinHash-LSH
  * near-duplicate candidates (keeps the lower doc_id of each candidate
  * pair) via the md5-slice MinHash family, so the whole composition is
  * DuckDB-hash-checkable; PipelineSpec pins planted drop/survive on
  * top.
  */
object Pipeline {

  // Stage helpers are the single definition of each pipeline stage —
  // public, so the runnable example (examples.TrainingPipelineExample)
  // demonstrates the SAME stages the declared queries verify, not a copy.

  /** Distributed prefix-sum shard assignment: given a (doc_id, n_tok)
    * frame, appends `pre` (tokens strictly before this doc in doc_id
    * order) and `shard` (= pre div budget) WITHOUT a global-order window
    * (which would funnel the corpus through one partition). Two-level
    * scan: per-block totals (block = doc_id div blockSz, a keyed agg) →
    * prefix offsets over the bounded BLOCK frame (corpus/blockSz rows;
    * tune blockSz so this stays small at scale) → broadcast back, finish
    * with a block-keyed window. (blk asc, doc_id asc) ≡ doc_id asc, so
    * the result is bit-identical to the naive global running sum —
    * PropertySpec pins the equivalence on ragged, gappy, shuffled ids.
    */
  def shardAssign(docs: DataFrame, budget: Long, blockSz: Long): DataFrame = {
    val blocked = docs
      .withColumn("blk", expr(s"doc_id div $blockSz"))
      .localCheckpoint(eager = false)
    val wBlk = Window.orderBy(asc_nulls_first("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = blocked.groupBy("blk").agg(sum(col("n_tok")).as("blk_tok"))
      .withColumn("off", coalesce(sum(col("blk_tok")).over(wBlk), lit(0L)))
      .select("blk", "off")
    val wIn = Window.partitionBy("blk")
      .orderBy(asc_nulls_first("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    blocked.join(broadcast(offs), "blk")
      .withColumn("pre",
        col("off") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .withColumn("shard", expr(s"pre div $budget"))
      .drop("blk")
  }

  def qualityGate(df: DataFrame): DataFrame = {
    val nTokens = size(split(col("text"), " "))
    df.filter(nTokens.between(20, 80))
  }

  def exactDedup(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("text")
    df.withColumn("__min_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("__min_id"))
      .drop("__min_id")
  }

  /** Near-dup removal: drop the higher doc_id of every MinHash-LSH
    * candidate pair from [[Dedup.minhashPairs]] (one definition, one set
    * of parameters — the pairs q_minhash_neardup's oracle checks).
    */
  def nearDupRemoval(df: DataFrame): DataFrame = {
    val drop = Dedup.minhashPairs(df.select("doc_id", "text"))
      .select(col("b_id").as("doc_id")).distinct()
    df.join(drop, Seq("doc_id"), "left_anti")
  }

  /** SemDeDup-style semantic prune stage: collapse each embedding-space
    * near-dup CLUSTER to its min-id representative (cluster machinery is
    * ONE definition shared with q_semdedup_prune:
    * [[Similarity.lshNearDupPairs]] + [[Dedup.connectedComponents]]).
    * Complements [[nearDupRemoval]] — MinHash catches lexical
    * near-copies, the embedding tier catches semantic ones (translations,
    * heavy paraphrases) that share few shingles. Representative choice is
    * id-stable across reruns, so incremental consumers see no churn.
    * Documents without an embedding row pass through unpruned.
    *
    * @param emb corpus embeddings keyed `vec_id` = the corpus doc_id
    */
  def semanticPrune(df: DataFrame, emb: DataFrame,
      floor: Double = 0.4, nBits: Int = 0): DataFrame = {
    val dropped = Dedup.connectedComponents(
        Similarity.lshNearDupPairs(emb, nBits = nBits, floor = floor))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    df.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Semantic decontamination stage — the curation chain's LAST dedup
    * gate: drop every document whose embedding nearly matches ANY held-out
    * benchmark embedding. A paraphrased eval item defeats exact n-gram
    * decontamination (Dedup.decontaminate); in embedding space the
    * paraphrase is a near-dup. Pair generation is ONE definition shared
    * with q_decontaminate_fuzzy ([[Similarity.lshCrossDupPairs]]): both
    * frames bucketed with the same plan-time hyperplanes, the bench side
    * broadcast when count-VERIFIED bounded, every candidate re-scored
    * exactly — so the corpus never shuffles and precision is 1.0.
    * Documents without an embedding row pass through unflagged (embedding
    * coverage is the caller's contract).
    *
    * @param emb      corpus embeddings keyed `vec_id` = the corpus doc_id
    * @param benchEmb held-out benchmark embeddings (eval suite)
    */
  def fuzzyDecontaminate(df: DataFrame, emb: DataFrame, benchEmb: DataFrame,
      floor: Double = 0.4, nBits: Int = 0,
      knownCorpusCount: Option[Long] = None): DataFrame = {
    val flagged = Similarity.lshCrossDupPairs(emb, benchEmb, nBits = nBits,
        floor = floor, knownCorpusCount = knownCorpusCount)
      .select(col("vec_id").as("doc_id")).distinct()
    df.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** PII scrub stage: record the audit hit-count, then redact — via the
    * reusable TextOps.scrubPii/piiHits, ONE definition shared with
    * q_pii_scrub. Pure projection: composes into the pipeline with no
    * shuffle and no extra pass over the corpus.
    */
  def scrubStage(df: DataFrame): DataFrame =
    df.withColumn("pii_hits", TextOps.piiHits(col("text")))
      .withColumn("text", TextOps.scrubPii(col("text")))

  /** Reproducible 80/10/10 train/val/test assignment (see q_split_assign
    * for the overflow-safe hash rationale).
    */
  def splitAssign(df: DataFrame): DataFrame = {
    val bucket = (col("doc_id") % 1000003L) * lit(2654435761L) % 4294967296L % 100
    df.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
  }

  /** Deterministic stratified sampling: cap every stratum (language,
    * source, …) at ~`cap` docs via a per-stratum keep-rate and the
    * same partition-independent multiplicative hash as [[splitAssign]] —
    * the SAME docs survive on any cluster, any partitioning, any day
    * (reservoir/Bernoulli sampling can't promise that). Integer-exact, in
    * parts-per-million: ppm = min(1e6, max(1, cap·1e6 div total)), keep iff
    * hash-bucket(key) < ppm, so the realized rate tracks the target within
    * 0.0001% granularity. The max(1, _) clamp means a stratum larger than
    * cap·1e6 rows keeps ~total/1e6 docs (≥ cap) instead of silently losing
    * the ENTIRE stratum to a floored-to-zero rate — overshooting the cap is
    * the documented behavior in that regime (use [[Scale.stratifiedSample]]
    * for an exact cap on bounded strata). Null stratum keys are a stratum
    * like any other: the totals join is null-safe (`<=>`), so docs with a
    * null lang/source are sampled, not dropped. One count shuffle on the
    * stratum column (map-side combined, one row per stratum) broadcast back
    * over the corpus — the corpus itself never shuffles. Keeps
    * `stratum_total` / `sample_ppm` as audit columns.
    *
    * Complement of [[Scale.stratifiedSample]] (exact top-n per stratum via
    * a keyed window): that one guarantees the cap exactly but puts each
    * stratum in ONE window task — right for bounded strata. This one is
    * rate-based (realized count ≈ cap) but never shuffles the corpus —
    * the 100 TB default when strata are huge (languages, sources).
    */
  def stratifiedSample(df: DataFrame, strata: String, cap: Long,
      keyCol: String = "doc_id"): DataFrame = {
    val ppm =
      if (cap <= 0) lit(0L)
      else least(lit(1000000L),
        greatest(lit(1L), expr(s"${cap * 1000000L} div stratum_total")))
    val totals = df.groupBy(strata)
      .agg(count(lit(1)).as("stratum_total"))
      .withColumn("sample_ppm", ppm)
      .withColumnRenamed(strata, "__stratum")
    val bucket = (col(keyCol) % 1000003L) * lit(2654435761L) % 4294967296L % 1000000L
    df.join(broadcast(totals), col(strata) <=> col("__stratum"))
      .drop("__stratum")
      .filter(bucket < col("sample_ppm"))
  }

  /** Deterministic WEIGHTED sampling: keep probability proportional to a
    * per-row weight (quality score, char count, domain priority — the
    * importance-sampling step of training-data mixing), via the same
    * partition-independent multiplicative hash as [[splitAssign]] /
    * [[stratifiedSample]]. keep iff hash-bucket(key) < min(1e6,
    * weight · ppmPerUnit): integer-exact, replay-stable, and nested —
    * raising ppmPerUnit only ADDS rows to the kept set (the hash bucket
    * per doc is fixed), so samples at different rates are supersets of
    * each other, which is what lets a pipeline re-mix without
    * re-materializing. Weights ≥ 1e6/ppmPerUnit saturate at
    * always-keep — documented, auditable via the kept `keep_ppm` column.
    * Pure narrow filter: no shuffle, no per-stratum state, corpus never
    * moves.
    */
  def weightedSample(df: DataFrame, weightCol: String, ppmPerUnit: Long,
      keyCol: String = "doc_id"): DataFrame = {
    val bucket = (col(keyCol) % 1000003L) * lit(2654435761L) % 4294967296L % 1000000L
    // weight · ppm computes in DOUBLE before the clamp: integer multiply
    // under ANSI mode would THROW on a large weight × large ppmPerUnit
    // instead of saturating at always-keep as documented. The double
    // product is exact for every value below the 1e6 clamp (≪ 2^53) and
    // overflows to +Inf far above it — either way least() saturates.
    df.withColumn("keep_ppm",
        least(lit(1000000.0), greatest(lit(0.0),
          col(weightCol).cast("double") * lit(ppmPerUnit.toDouble))).cast("long"))
      .filter(bucket < col("keep_ppm"))
  }

  private def langStats(df: DataFrame): DataFrame =
    df.groupBy("lang")
      .agg(count(lit(1)).as("doc_cnt"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(asc_nulls_first("lang"))

  val all: Seq[Q] = Seq(
    Q(
      "q_pipeline_clean",
      (s, d) => langStats(exactDedup(qualityGate(tbl(s, d, "documents")))),
      Some("""WITH q AS (
             |  SELECT * FROM documents
             |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80),
             |k AS (
             |  SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS min_id FROM q)
             |SELECT lang, COUNT(*) AS doc_cnt,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |FROM k WHERE doc_id = min_id
             |GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // The cleaning pipeline with the PII scrub stage composed in,
      // applied CORPUS-WIDE to the document text column (not a side
      // column): gate → dedup → scrub → per-lang audit rollup. The
      // synthetic corpus carries no organic PII, so a contact span is
      // appended to every document's text first (same convention as
      // q_pii_scrub) — every row then exercises a real match, and the
      // aggregate proves the redaction ran: total_pii counts what was
      // found, scrubbed_chars measures the text AFTER replacement.
      "q_pipeline_scrubbed",
      (s, d) => {
        val withContact = tbl(s, d, "documents").withColumn("text",
          concat(col("text"), lit(" contact "), col("source"), lit("@"),
            col("lang"), lit(".example.com id "), col("doc_id").cast("string")))
        scrubStage(exactDedup(qualityGate(withContact)))
          .groupBy("lang")
          .agg(count(lit(1)).as("doc_cnt"),
            sum(col("pii_hits")).cast("long").as("total_pii"),
            sum(length(col("text"))).cast("long").as("scrubbed_chars"))
          .orderBy(asc_nulls_first("lang"))
      },
      Some("""WITH c AS (
             |  SELECT doc_id, lang,
             |    text || ' contact ' || source || '@' || lang ||
             |      '.example.com id ' || CAST(doc_id AS VARCHAR) AS text
             |  FROM documents),
             |q AS (
             |  SELECT * FROM c
             |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80),
             |k AS (
             |  SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS min_id FROM q),
             |s AS (
             |  SELECT lang,
             |    len(regexp_extract_all(text,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
             |    len(regexp_extract_all(regexp_replace(text,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |      '[0-9]{3,}')) AS pii_hits,
             |    regexp_replace(regexp_replace(text,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |      '[0-9]{3,}', '[NUM]', 'g') AS scrubbed
             |  FROM k WHERE doc_id = min_id)
             |SELECT lang, COUNT(*) AS doc_cnt,
             |  CAST(SUM(pii_hits) AS BIGINT) AS total_pii,
             |  CAST(SUM(len(scrubbed)) AS BIGINT) AS scrubbed_chars
             |FROM s GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // The FULL composed pipeline: gate → exact dedup → MinHash near-dup
      // removal → per-lang audit census. The near-dup stage runs
      // Dedup.minhashPairs, the same md5-slice shingle hash + affine perms
      // that make q_minhash_neardup oracle-checkable, so the WHOLE
      // composition — both upstream relational stages, the banded
      // candidate generation, the keep-lower-id drop rule, and the final
      // census — faces the DuckDB rows+schema+hash oracle. PipelineSpec
      // additionally pins planted drop/survive behavior.
      "q_pipeline_full",
      (s, d) =>
        langStats(nearDupRemoval(exactDedup(qualityGate(tbl(s, d, "documents"))))),
      Some(s"""WITH g AS (
              |  SELECT * FROM documents
              |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80),
              |e AS (
              |  SELECT * FROM (
              |    SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS min_id
              |    FROM g)
              |  WHERE doc_id = min_id),
              |${Dedup.minhashPairsSqlCtes("e")},
              |nd AS (
              |  SELECT * FROM e
              |  WHERE doc_id NOT IN (SELECT b_id FROM pairs))
              |SELECT lang, COUNT(*) AS doc_cnt,
              |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
              |FROM nd GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Split-leakage census: exact-duplicate text groups whose copies
      // straddle train/val/test — THE eval-integrity check a pipeline must
      // run when dedup happens after (or independently of) split
      // assignment, since a test doc with a train-side twin silently
      // inflates eval scores. Composes [[splitAssign]] with the exact-dedup
      // hash-groupBy tier: one content-hash shuffle (the 8-byte hash
      // prefixes the group key so the exchange never sorts raw documents),
      // per-split copy counts as conditional aggs in the SAME pass, then a
      // groups-with->1-distinct-split filter — output is only the leaking
      // groups, vanishingly small vs the corpus. The fuzzy tier of the same
      // check is the LSH cross-frame machinery behind q_decontaminate_fuzzy
      // pointed at the split frames instead of a benchmark.
      "q_split_leakage",
      (s, d) => {
        splitAssign(tbl(s, d, "documents"))
          .groupBy(xxhash64(col("text")).as("h"), col("text"))
          .agg(
            min(col("doc_id")).as("min_id"),
            count(lit(1)).as("n_copies"),
            countDistinct(col("split")).as("n_splits"),
            count(when(col("split") === "train", 1)).as("n_train"),
            count(when(col("split") === "val", 1)).as("n_val"),
            count(when(col("split") === "test", 1)).as("n_test"))
          .filter(col("n_splits") > 1)
          .select("min_id", "n_copies", "n_train", "n_val", "n_test")
          .orderBy(asc_nulls_first("min_id"))
      },
      Some("""SELECT min_id, n_copies, n_train, n_val, n_test FROM (
             |  SELECT MIN(doc_id) AS min_id, COUNT(*) AS n_copies,
             |    COUNT(DISTINCT split) AS n_splits,
             |    COUNT(*) FILTER (WHERE split = 'train') AS n_train,
             |    COUNT(*) FILTER (WHERE split = 'val') AS n_val,
             |    COUNT(*) FILTER (WHERE split = 'test') AS n_test
             |  FROM (
             |    SELECT doc_id, text,
             |      CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |           ELSE 'test' END AS split
             |    FROM (SELECT doc_id, text,
             |            doc_id % 1000003 * 2654435761 % 4294967296 % 100 AS b
             |          FROM documents))
             |  GROUP BY text)
             |WHERE n_splits > 1 ORDER BY min_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Deterministic train/val/test split assignment — reproducible
      // splits are data versioning's bedrock: the SAME doc lands in the
      // SAME split on any cluster, any partitioning, any day. Bucket =
      // Knuth multiplicative hash of the stable key mod 100 (exact integer
      // ops, so the oracle replicates it verbatim; a production pipeline
      // with no cross-engine-oracle constraint would use xxhash64(key) the
      // same way). 80/10/10 by bucket threshold. The key is reduced mod a
      // prime BEFORE the multiply so the product stays ≤ ~2.7e15 — no
      // Long overflow (ANSI throw / DuckDB error) for any 64-bit doc_id.
      "q_split_assign",
      (s, d) => {
        splitAssign(tbl(s, d, "documents"))
          .groupBy("split")
          .agg(count(lit(1)).as("doc_cnt"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .orderBy(asc_nulls_first("split"))
      },
      Some("""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |            ELSE 'test' END AS split,
             |  COUNT(*) AS doc_cnt, CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |FROM (SELECT n_chars, doc_id % 1000003 * 2654435761 % 4294967296 % 100 AS b
             |      FROM documents)
             |GROUP BY 1 ORDER BY split ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Context-window packing (concat-chunk): concatenate each language's
      // token stream in doc_id order and cut every `budget` tokens — the
      // packing strategy LLM training uses to fill fixed-size contexts.
      // Each doc reports the pack its FIRST token lands in: pack_id =
      // (running_total − own_tokens) / budget.
      //
      // The running total is a TWO-LEVEL distributed prefix sum, not a
      // per-lang window: `Window.partitionBy(lang)` puts each language's
      // whole stream in ONE task — a handful of languages = a handful of
      // tasks at 100 TB. Instead: doc_id-range buckets scan in parallel
      // (inner window over (lang, bucket)), bucket totals prefix-sum on a
      // frame 1000× smaller (recurse again at extreme scale), and a
      // broadcast join adds each bucket's offset back. Same exact integer
      // arithmetic, so the DuckDB oracle keeps the simple one-window form.
      "q_pack_contexts",
      (s, d) => {
        val budget = 512L
        val bucketW = 1000L // docs per scan bucket
        val base = tbl(s, d, "documents")
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("bkt", floor(col("doc_id") / bucketW))
        val wIn = Window.partitionBy("lang", "bkt")
          .orderBy(asc_nulls_first("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wOff = Window.partitionBy("lang")
          .orderBy(asc_nulls_first("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = base.groupBy("lang", "bkt")
          .agg(sum(col("n_tokens")).as("bkt_sum"))
          .withColumn("offset", coalesce(sum(col("bkt_sum")).over(wOff), lit(0L)))
          .select("lang", "bkt", "offset")
        base
          .withColumn("run_in", sum(col("n_tokens")).over(wIn))
          .join(broadcast(offsets), Seq("lang", "bkt"))
          .withColumn("start_tok", col("offset") + col("run_in") - col("n_tokens"))
          .withColumn("pack_id", floor(col("start_tok") / budget))
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("pack_tokens"),
            min(col("doc_id")).as("first_doc"))
          .orderBy(asc_nulls_first("lang"), asc_nulls_first("pack_id"))
      },
      Some("""WITH t AS (
             |  SELECT lang, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |r AS (
             |  SELECT lang, doc_id, n_tokens,
             |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
             |  FROM t)
             |SELECT lang, start_tok // 512 AS pack_id, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens, MIN(doc_id) AS first_doc
             |FROM r GROUP BY 1, 2
             |ORDER BY lang ASC NULLS FIRST, pack_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Source-mix quota plan: per-source doc counts → per-source sampling
      // rate against a uniform cap (the knob a corpus curator turns to
      // rebalance over-represented sources). Exact-integer counts; the
      // rate is ONE final IEEE division, bit-identical across engines.
      "q_source_mix",
      (s, d) => {
        val cap = 120L
        tbl(s, d, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("doc_cnt"))
          .withColumn("kept", least(col("doc_cnt"), lit(cap)))
          .withColumn("sample_rate", col("kept").cast("double") / col("doc_cnt"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""SELECT source, COUNT(*) AS doc_cnt,
             |  LEAST(COUNT(*), 120) AS kept,
             |  CAST(LEAST(COUNT(*), 120) AS DOUBLE) / COUNT(*) AS sample_rate
             |FROM documents GROUP BY source
             |ORDER BY source ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // q_source_mix PLANS the rebalance; this EXECUTES it: per-language
      // cap via deterministic hash sampling (see stratifiedSample). The
      // audit rollup proves the realized sample tracks the integer target
      // rate and that selection is reproducible (the oracle replicates
      // the exact hash arithmetic, so the same docs are kept).
      "q_stratified_sample",
      (s, d) => {
        stratifiedSample(tbl(s, d, "documents"), "lang", cap = 60L)
          .groupBy("lang")
          .agg(max(col("stratum_total")).cast("long").as("total"),
            max(col("sample_ppm")).cast("long").as("ppm"),
            count(lit(1)).as("kept"),
            sum(col("n_chars")).cast("long").as("kept_chars"))
          .orderBy(asc_nulls_first("lang"))
      },
      Some("""WITH cnt AS (SELECT lang, COUNT(*) AS total FROM documents GROUP BY lang),
             |r AS (SELECT lang, total,
             |  LEAST(1000000, GREATEST(1, 60000000 // total)) AS ppm FROM cnt),
             |k AS (
             |  SELECT d.lang, r.total, r.ppm, d.n_chars
             |  FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
             |  WHERE doc_id % 1000003 * 2654435761 % 4294967296 % 1000000 < r.ppm)
             |SELECT lang, CAST(MAX(total) AS BIGINT) AS total,
             |  CAST(MAX(ppm) AS BIGINT) AS ppm,
             |  COUNT(*) AS kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
             |FROM k GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Importance sampling for data mixing: keep probability ∝ n_chars
      // (longer documents oversampled at 1500 ppm per char, saturating at
      // always-keep above ~667 chars). The oracle replicates the exact
      // integer hash arithmetic, so the SAME docs are kept — the
      // reproducibility that makes a training mix auditable. See
      // [[weightedSample]] for the nested-supersets property.
      "q_weighted_sample",
      (s, d) => {
        weightedSample(tbl(s, d, "documents"), "n_chars", ppmPerUnit = 1500L)
          .select(col("doc_id"), col("n_chars"), col("keep_ppm"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""SELECT doc_id, n_chars,
             |  CAST(LEAST(1000000.0, GREATEST(0.0, n_chars * 1500.0)) AS BIGINT) AS keep_ppm
             |FROM documents
             |WHERE doc_id % 1000003 * 2654435761 % 4294967296 % 1000000
             |  < CAST(LEAST(1000000.0, GREATEST(0.0, n_chars * 1500.0)) AS BIGINT)
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Token-budget shard assignment: docs in doc_id order are packed
      // into ~20k-token output shards (the sharding step before training-
      // context packing — shards feed one writer/file each). shard =
      // floor(running token offset BEFORE the doc / budget), i.e. a doc
      // lands in the shard its first token falls in.
      //
      // Scale shape: a global running sum is the textbook scale-killer
      // (one window over a total order = ONE partition holding the
      // corpus). This runs the distributed two-level scan instead —
      // the same prefix-sum decomposition GPUs/MPI use:
      //   1. per-block token totals (block = doc_id div 100; a keyed agg),
      //   2. prefix offsets over the BLOCK frame (corpus/100 rows — the
      //      single-partition window touches only this bounded frame; at
      //      real scale the block size is tuned so this stays millions of
      //      rows, not billions),
      //   3. broadcast the offsets back and finish with a block-keyed
      //      window — (blk asc, doc_id asc) ≡ doc_id asc, so the result is
      //      IDENTICAL to the naive global window (PropertySpec pins this
      //      equivalence; the oracle runs the naive form).
      // All exact integer arithmetic; `div` floors.
      "q_shard_assign",
      (s, d) => {
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        shardAssign(docs, budget = 20000L, blockSz = 100L)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("sum_tok"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(asc_nulls_first("shard"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, n_tok,
             |    CAST(COALESCE(SUM(n_tok) OVER (
             |      ORDER BY doc_id ASC NULLS FIRST
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS pre
             |  FROM t)
             |SELECT CAST(pre // 20000 AS BIGINT) AS shard,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
             |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
             |FROM c GROUP BY 1 ORDER BY shard ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // k-anonymity census: per (lang, source) stratum size with a
      // k<50 risk flag — the release-governance audit run before
      // publishing a corpus slice (small strata re-identify their
      // contributors; the same census drives stratified-sample floor
      // checks). One map-side-combined rollup on a bounded key space.
      "q_kanon_census",
      (s, d) => {
        tbl(s, d, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("risky", col("n_docs") < 50)
          .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))
      },
      Some("""SELECT lang, source, COUNT(*) AS n_docs,
             |  COUNT(*) < 50 AS risky
             |FROM documents GROUP BY lang, source
             |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Deterministic bottom-k-by-hash sample (KMV shape): per language,
      // the 5 docs with the SMALLEST multiplicative hash of doc_id — a
      // uniform, replay-stable stratum sample whose membership never
      // depends on partitioning, arrival order, or cluster size (the audit
      // sample a curator pins next to every corpus release), and exactly a
      // KMV distinct sketch: the k-th smallest hash h_k estimates the
      // stratum's cardinality as (k−1)·2^32/h_k. Physical plan is the
      // BottomKPairs bounded aggregate over the hash — map tasks reduce
      // each stratum slice to ≤k pairs BEFORE the exchange (see
      // q_topk_agg), while the oracle's window form shuffles every row.
      // Hash = the shared Knuth multiplicative hash (exact integer ops on
      // both engines, overflow-safe per q_split_assign).
      "q_bottomk_sample",
      (s, d) => {
        tbl(s, d, "documents")
          .select(col("lang"), col("doc_id"),
            (col("doc_id") % 1000003L * 2654435761L % 4294967296L).as("h"))
          .groupBy("lang")
          .agg(graft.expr.BottomKPairs(col("h"), col("doc_id"), 5).as("bot"))
          .select(col("lang"), posexplode(col("bot")))
          .select(col("lang"),
            col("col.id").as("doc_id"),
            col("col.qd").as("h"),
            (col("pos") + 1).cast("long").as("rn"))
          .orderBy(asc_nulls_first("lang"), asc_nulls_first("rn"))
      },
      Some("""SELECT lang, doc_id, h, rn FROM (
             |  SELECT lang, doc_id, h,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY h ASC, doc_id ASC) AS BIGINT) AS rn
             |  FROM (SELECT lang, doc_id,
             |          doc_id % 1000003 * 2654435761 % 4294967296 AS h
             |        FROM documents))
             |WHERE rn <= 5
             |ORDER BY lang ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Temperature-smoothed source mixture weights (τ = 1/2) — the
      // sampling-weight table an LLM training loader consumes: upweight
      // small sources, damp big ones (w_s ∝ n_s^τ, the multilingual /
      // multi-corpus mixing recipe), plus the implied per-source epoch
      // count for a fixed token budget. Float-sum pitfall: Σ√n over
      // sources is order-dependent in IEEE, so each √n is QUANTIZED first
      // — floor(√n · 2^20) is exact BIGINT on both engines (√ is
      // correctly rounded IEEE on exactly-representable BIGINT input;
      // scaling by a power of two touches only the exponent) — and the
      // normalizer is then an order-independent INTEGER sum. weight and
      // epochs are single correctly-rounded divisions with one fixed
      // association mirrored in the oracle.
      //
      // Scale shape: one map-side-combined agg to a (source)-sized frame
      // (token counts via size(split) — no explode, the stream never
      // widens); the window normalizer runs on that ~20-row frame.
      "q_mix_weights",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val counts = tbl(s, d, "documents")
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
          .withColumn("sq", expr(
            "cast(floor(sqrt(cast(n_tokens as double)) * 1048576.0d) as bigint)"))
        counts
          .withColumn("tot", sum(col("sq")).over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
          .withColumn("weight",
            col("sq").cast("double") / col("tot").cast("double"))
          .withColumn("epochs",
            (col("weight") * lit(1.0e8)) / col("n_tokens").cast("double"))
          .select(col("source"), col("n_tokens"), col("weight"), col("epochs"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""WITH c AS (
             |  SELECT source,
             |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             |      AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source),
             |q AS (SELECT source, n_tokens,
             |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576.0)
             |          AS BIGINT) AS sq
             |      FROM c),
             |w AS (SELECT source, n_tokens, sq, SUM(sq) OVER () AS tot FROM q)
             |SELECT source, n_tokens,
             |  CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE) AS weight,
             |  (CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e8
             |    / CAST(n_tokens AS DOUBLE) AS epochs
             |FROM w
             |ORDER BY source ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Source-diversity index per language — the "how many sources is
      // this slice REALLY drawing from" census (a slice with 20 listed
      // sources but 95% of docs from one of them behaves like ~1 source
      // in training). Effective source count = inverse Simpson index
      // N²/Σn_s² — chosen over Shannon entropy precisely because it is
      // EXACT: N² and Σn² are pure BIGINT (no float log to diverge
      // between engines), the index is ONE final correctly-rounded
      // division. One map-side-combined rollup to a (lang × source)
      // frame; the per-lang fold runs on that bounded frame.
      "q_diversity_index",
      (s, d) => {
        tbl(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("lang"))
          .agg(sum(col("n")).as("n_docs"),
            count(lit(1)).as("n_sources"),
            sum(col("n") * col("n")).as("s2"))
          .select(col("lang"), col("n_docs"), col("n_sources"),
            ((col("n_docs") * col("n_docs")).cast("double") /
              col("s2").cast("double")).as("eff_sources"))
          .orderBy(asc_nulls_first("lang"))
      },
      Some("""WITH c AS (
             |  SELECT lang, source, COUNT(*) AS n
             |  FROM documents GROUP BY lang, source)
             |SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
             |  COUNT(*) AS n_sources,
             |  CAST(CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT) AS DOUBLE)
             |    / CAST(CAST(SUM(n * n) AS BIGINT) AS DOUBLE) AS eff_sources
             |FROM c GROUP BY lang
             |ORDER BY lang ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Pipeline attrition census — survivors and drops per cleaning
      // stage (raw → quality gate → exact dedup), the one-screen report
      // every curation run prints before anyone trusts its output. The
      // stages are the SAME public helpers the cleaning queries execute
      // (qualityGate, exactDedup — one definition, no drift); each stage
      // count is one aggregate of the composed frame, the three 1-row
      // frames union into a bounded 3-row result where lag() computes
      // drops and a whole-frame window computes pct-of-raw (ONE final
      // division per row). No driver-side counts: the stage frames stay
      // distributed until the 3-row union.
      "q_pipeline_attrition",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val docs = tbl(s, d, "documents")
        val gated = qualityGate(docs)
        val deduped = exactDedup(gated)
        val stages = docs.agg(count(lit(1)).as("n_docs"))
          .select(lit(0L).as("stage_ord"), lit("raw").as("stage"), col("n_docs"))
          .unionAll(gated.agg(count(lit(1)).as("n_docs"))
            .select(lit(1L).as("stage_ord"), lit("quality_gate").as("stage"),
              col("n_docs")))
          .unionAll(deduped.agg(count(lit(1)).as("n_docs"))
            .select(lit(2L).as("stage_ord"), lit("exact_dedup").as("stage"),
              col("n_docs")))
        val wOrd = W.orderBy(asc_nulls_first("stage_ord"))
        val wAll = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        stages
          .withColumn("dropped",
            coalesce(lag(col("n_docs"), 1).over(wOrd) - col("n_docs"), lit(0L)))
          .withColumn("pct_of_raw",
            col("n_docs").cast("double") /
              max(when(col("stage_ord") === 0L, col("n_docs"))).over(wAll)
                .cast("double"))
          .orderBy(asc_nulls_first("stage_ord"))
      },
      Some("""WITH gated AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80),
             |dd AS (SELECT doc_id FROM (
             |         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text)
             |           AS min_id
             |         FROM gated)
             |       WHERE doc_id = min_id),
             |st AS (
             |  SELECT CAST(0 AS BIGINT) AS stage_ord, 'raw' AS stage,
             |    COUNT(*) AS n_docs FROM documents
             |  UNION ALL
             |  SELECT 1, 'quality_gate', COUNT(*) FROM gated
             |  UNION ALL
             |  SELECT 2, 'exact_dedup', COUNT(*) FROM dd)
             |SELECT stage_ord, stage, n_docs,
             |  COALESCE(lag(n_docs, 1) OVER (ORDER BY stage_ord ASC NULLS FIRST)
             |    - n_docs, 0) AS dropped,
             |  CAST(n_docs AS DOUBLE)
             |    / CAST(MAX(CASE WHEN stage_ord = 0 THEN n_docs END)
             |        OVER () AS DOUBLE) AS pct_of_raw
             |FROM st
             |ORDER BY stage_ord ASC NULLS FIRST""".stripMargin)
    )
  )
}
