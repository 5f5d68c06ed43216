package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis family over the `documents` table (north-star LLM-pipeline
  * ops): corpus stats, token counting, quality scoring, n-gram-marker
  * language ID, token-set Jaccard similarity, and document fingerprinting.
  *
  * Scale notes: all per-document measures are narrow projections (one
  * codegen span, no shuffle). The Jaccard pair query inverts on token and
  * equi-joins — candidate generation is an inverted-index join, never an
  * all-pairs cross product; the probe set is bounded so output is bounded.
  * Ratios are exact-integer numerators with a single final IEEE division
  * (bit-identical across engines).
  */
object TextOps {

  /** PII patterns, in the regex dialect shared by Java regex (Spark's
    * regexp_* compile with java.util.regex) and RE2 (DuckDB / Go scrubbers):
    * character classes, bounded repetition, no lookarounds — so the SAME
    * pattern strings drive both the engine and the oracle.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongDigitPattern = "[0-9]{3,}"

  /** Redact PII from ANY text column: emails → [EMAIL], then 3+-digit runs
    * (phone/SSN/account fragments) → [NUM]. Email first, so digits inside
    * an address are swallowed by [EMAIL], not half-replaced. Pure codegen'd
    * projection — composable into any pipeline stage at any scale.
    */
  def scrubPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, EmailPattern, "[EMAIL]"),
      LongDigitPattern, "[NUM]")

  /** Total PII hit count (emails + long digit runs) in a text column —
    * the audit metric a scrub stage reports alongside the redaction.
    * Digit runs are counted on the email-scrubbed INTERMEDIATE, exactly
    * mirroring scrubPii's email-first replacement order — digits inside an
    * address are one [EMAIL] redaction, not an extra [NUM] hit, so the
    * audit count equals the number of replacements actually applied.
    */
  def piiHits(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (size(regexp_extract_all(c, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(regexp_replace(c, EmailPattern, "[EMAIL]"),
        lit(LongDigitPattern), lit(0)))).cast("long")

  /** Tag-body atom shared by the markup patterns: consumes attribute text
    * INCLUDING `>` inside single- or double-quoted attribute values, so
    * `<a href="x>y">` strips as one tag instead of splitting at the quoted
    * `>`. No lookarounds, no backrefs — valid in both Java regex and RE2.
    */
  private val TagBody = """[^>"']*("[^"]*"[^>"']*|'[^']*'[^>"']*)*"""

  /** The five markup patterns, in application order (public so the oracle
    * SQL renders the IDENTICAL strings — one definition, two engines).
    * Script and style blocks are SEPARATE patterns so a block terminates
    * only at its OWN close tag: a combined `<(script|style)…</(script|
    * style)>` alternation would let a mismatched `<script>payload</style>`
    * swallow the payload (RE2 has no backreferences, so two patterns is
    * the shared-dialect way to pair open with close).
    */
  val CommentPattern = "(?s)<!--.*?-->"
  val ScriptPattern = s"(?s)<script$TagBody>.*?</script\\s*>"
  val StylePattern = s"(?s)<style$TagBody>.*?</style\\s*>"
  val TagPattern = s"<[!/]?[a-zA-Z]$TagBody>"
  val EntityPattern = "&[a-zA-Z]+;|&#[0-9]+;|&#[xX][0-9a-fA-F]+;"

  /** Strip HTML/XML markup from ANY text column — the extraction step
    * ahead of every web-corpus pipeline (boilerplate removal lite):
    * comments go first (they may contain bare `>`), then script, then
    * style blocks WITH their payload (lazy match to the nearest MATCHING
    * close tag — `</style>` does not terminate a `<script>` block),
    * then tags (quote-aware: a `>` inside a quoted attribute does not end
    * the tag; newlines inside tags are fine — the char classes match
    * them without dotall), then character entities, named/decimal/hex
    * (replaced by a space, not decoded — this is a strip, not a
    * renderer), then whitespace collapses. Unclosed tags (`<p` with no
    * `>`) are NOT markup by this grammar and survive as text — the
    * documented, oracle-agreed behavior. Pure codegen'd projection in the
    * shared Java-regex/RE2 dialect (inline (?s) dotall, lazy repetition,
    * character classes — no lookarounds), so the SAME patterns drive the
    * engine and the DuckDB oracle.
    */
  def stripMarkup(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
      CommentPattern, " "),
      ScriptPattern, " "),
      StylePattern, " "),
      TagPattern, " "),
      EntityPattern, " "),
      "\\s+", " "))

  /** Gopher/C4-style rule-based quality gate over ANY frame with a text
    * column: appends per-rule booleans (r_len / r_wlen / r_stop / r_sym),
    * their audit metrics (n_words, mean_word_len, stop_hits, sym_cnt) and
    * the composed `keep`. Exact-integer rule comparisons (cross-multiplied
    * bounds) so the decisions are engine-exact; pure codegen'd projection,
    * composable at any pipeline position like scrubPii/stripMarkup.
    * Single definition behind q_quality_rules AND the pipeline example.
    */
  def qualityRules(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    df
      .withColumn("n_words", size(split(t, " ")).cast("long"))
      .withColumn("__n_chars_nw", length(regexp_replace(t, " ", "")).cast("long"))
      .withColumn("stop_hits", (size(split(concat(lit(" "), t, lit(" ")),
        " (the|a|of|and|to|in) ")) - 1).cast("long"))
      .withColumn("sym_cnt",
        (length(t) - length(regexp_replace(t, "[#@%]", ""))).cast("long"))
      .withColumn("mean_word_len", col("__n_chars_nw").cast("double") / col("n_words"))
      .withColumn("r_len", col("n_words").between(10, 5000))
      .withColumn("r_wlen", col("__n_chars_nw") >= col("n_words") * 2 &&
        col("__n_chars_nw") <= col("n_words") * 12)
      .withColumn("r_stop", col("stop_hits") >= 2)
      .withColumn("r_sym", col("sym_cnt") * 10 <= col("n_words"))
      .withColumn("keep",
        col("r_len") && col("r_wlen") && col("r_stop") && col("r_sym"))
      .drop("__n_chars_nw")
  }

  /** The prefix-filtered inverted index both set-similarity joins
    * ([[jaccardPairs]], [[containmentPairs]]) build — the prefix-filtering
    * set-similarity join (All-Pairs/PPJoin; see Distributed Streaming Set
    * Similarity Join, ICDE 2020). Returns `(sh, sizes, pref)`:
    *   - `sh`: the distinct (doc_id, token) index, tokens hashed to
    *     xxhash64, with the hot tokens (document frequency > `dfCeiling`)
    *     removed;
    *   - `sizes`: (doc_id, sz), each doc's set size over `sh`;
    *   - `pref`: (doc_id, token, sz), each doc's first `prefLen` tokens in
    *     global rarity order (df, token), `prefLen` being a Column over
    *     `sz` that the caller's similarity bound makes lossless.
    *
    * The inverted-index join's cost is Σ(bucket²) over tokens — a stopword
    * at corpus scale is a skew bomb (one token in 10% of a 10B-doc corpus
    * = 10^17 join rows). `dfCeiling` caps it: tokens above the ceiling
    * leave the index AND the set-size counts (semantics: similarity over
    * the sub-ceiling vocabulary — stopwords carry no near-dup signal). The
    * hot set is tiny by definition, so it broadcasts and the removal join
    * is map-side; the only added shuffle is one groupBy(token) document-
    * frequency count. Rarity order puts high-df boilerplate tokens LAST,
    * so they leave every prefix: candidate pairs come from prefixes only.
    */
  private def prefixIndex(tokens: org.apache.spark.sql.DataFrame,
      dfCeiling: Long, prefLen: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    // Hash each token/shingle to xxhash64 ONCE at the scan: every
    // downstream shuffle (distinct, DF count, inverted-index self-join,
    // intersection agg) then moves a fixed 8-byte key instead of a
    // variable-length string (~3-4× less shuffle volume for ~25-byte
    // shingles, and fixed-width comparisons in every hash table). Set
    // semantics are exact up to a 64-bit collision INSIDE one document
    // pair's sets — the corpus-wide expectation stays ≪1 through the
    // billions-of-distinct-shingles range, and this tier is the bounded-
    // corpus exact path anyway (the MinHash tier is the 100 TB path).
    // localCheckpoint: the index frame feeds FOUR consumers (the hot-token
    // DF count, the per-doc sizes, the prefix and the rescore joins), and
    // when AQE turns a self-join into a broadcast join there is no
    // exchange for ReuseExchange to share — without the checkpoint the
    // whole scan+generate+distinct pipeline re-executes per consumer
    // (measured 4 full shingle passes at sf0.1, ~40% of query time).
    // Same bounded-materialization pattern as the Dedup iterations; the
    // checkpointed set is (doc_id, 8-byte hash) — far smaller than the
    // corpus it came from. Tradeoff: localCheckpoint truncates lineage
    // into non-reliable executor-local storage — losing an executor
    // (spot kill, dynamic deallocation) fails the query instead of
    // recomputing. For production 100 TB runs on preemptible fleets,
    // swap for persist(MEMORY_AND_DISK_2) or reliable checkpointing;
    // the recompute-vs-replication call is deployment-specific.
    val sh0 = tokens.select(col("doc_id"), xxhash64(col("token")).as("token"))
      .distinct()
      .localCheckpoint(eager = false)
    val dfF = sh0.groupBy("token").agg(count(lit(1)).as("df"))
    val hot = dfF.filter(col("df") > dfCeiling).select("token")
    val sh = sh0.join(broadcast(hot), Seq("token"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pref = sh.join(dfF, "token")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(asc_nulls_first("df"), asc_nulls_first("token"))))
      .join(sizes, "doc_id")
      .filter(col("rn") <= prefLen)
      .select("doc_id", "token", "sz")
    (sh, sizes, pref)
  }

  /** Set-Jaccard pairs (J > minSim10/10, a_id < b_id) over a pre-tokenized
    * (doc_id, token) frame via inverted-index equi-join on token — the
    * token can be a word, an n-gram shingle, or any fingerprint unit.
    * Tokens whose document frequency exceeds `dfCeiling` are dropped from
    * the index and the set sizes (see [[prefixIndex]]).
    */
  def jaccardPairs(tokens: org.apache.spark.sql.DataFrame,
      dfCeiling: Long, minSim10: Int = 6): org.apache.spark.sql.DataFrame = {
    // TWO-SIDED PREFIX FILTER: candidates come from a self-join over each
    // doc's RAREST (sz − ceil(t·sz) + 1) tokens only. Lossless for J ≥ t:
    // the size-ratio prune admits only t·|B| ≤ |A| ≤ |B| partners, so
    // |A∩B| ≥ t·(|A|+|B|)/(1+t) ≥ ceil(t·max(|A|,|B|)) =: α, and by
    // pigeonhole α common tokens cannot all hide in a doc's last α−1
    // positions — each side's static prefix (its own-size formula, ≥ the
    // pair-level |X|−α+1) must contain a common token. OUTPUT IS PROVABLY
    // UNCHANGED (the DuckDB oracle keeps the plain all-pairs formulation
    // as the semantic spec); what changes is the intermediate: candidate
    // pairs are Σ_token df_prefix² instead of Σ_token df² — the latter
    // measured >42 GB of spill at 500 k docs (disk-full at 8 and 24 GB
    // heaps alike, PROFILE_r18): the dfCeiling guard alone bounds the
    // per-token factor but not the boilerplate MASS under it. Exact
    // inter/union counts then run only on candidates (the
    // q_dedup_threshold_sweep rescore shape — cost ∝ candidates, not
    // corpus²).
    val (sh, _, pref) = prefixIndex(tokens, dfCeiling,
      col("sz") - expr(s"($minSim10 * sz + 9) div 10") + 1)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id")
          && col("a.sz") * 10 >= col("b.sz") * minSim10
          && col("b.sz") * 10 >= col("a.sz") * minSim10)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sz").as("a_sz"), col("b.sz").as("b_sz"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("token")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("token")), Seq("b_id", "token"))
      .groupBy("a_id", "b_id", "a_sz", "b_sz")
      .agg(count(lit(1)).as("inter_cnt"))
      .withColumn("union_cnt", (col("a_sz") + col("b_sz") - col("inter_cnt")).cast("long"))
      .filter(col("inter_cnt") * 10 > col("union_cnt") * minSim10)
      .select("a_id", "b_id", "inter_cnt", "union_cnt")
  }

  /** DIRECTIONAL containment pairs (|A∩B| / |A| > minCont10/10): document
    * A's shingle set mostly inside B's — the duplication mode symmetric
    * Jaccard is blind to (a tweet quoted inside an article scores J ≈ 0
    * but containment ≈ 1; boilerplate/quote inclusion is rampant in web
    * corpora). Same prefix-filtered index and dfCeiling skew guard as
    * [[jaccardPairs]] (one shingle materialization, one intersection
    * shuffle), but NO size-ratio join prune — a tiny doc inside a huge
    * one is exactly the signal, so size-incompatible pairs must reach the
    * intersection count. Both directions derive from the single a<b
    * intersection; near-identical pairs legitimately appear in both.
    */
  def containmentPairs(tokens: org.apache.spark.sql.DataFrame,
      dfCeiling: Long, minCont10: Int = 8): org.apache.spark.sql.DataFrame = {
    // ONE-SIDED prefix filter (see jaccardPairs for the two-sided form and
    // the measured disk-fill it cures). Containment admits any size gap,
    // so a SYMMETRIC prefix is unsound (a huge container paired with a
    // tiny doc needs its full set indexed) — but every qualifying pair
    // has o > t·min(|A|,|B|), and by pigeonhole the CONTAINED side's first
    // sz − floor(t·sz) rarest tokens must hold a common token, which sits
    // ANYWHERE in the container. So candidates = contained-PREFIX ⋈ FULL
    // index: the Σ df² blowup becomes Σ df_prefix·df, and boilerplate
    // leaves the prefix side. Exact rescore on candidates only; both
    // directions fall out of one a<b candidate set.
    val (sh, sizes, pref) = prefixIndex(tokens, dfCeiling,
      col("sz") - expr(s"($minCont10 * sz) div 10"))
    val candRaw = pref.select("doc_id", "token").as("p").join(sh.as("f"),
        col("p.token") === col("f.token")
          && col("p.doc_id") =!= col("f.doc_id"))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("a_id"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("b_id"))
      .distinct()
    val inter = candRaw
      .join(sh.select(col("doc_id").as("a_id"), col("token")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("token")), Seq("b_id", "token"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter_cnt"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")), "b_id")
    // Both directions from ONE pass over `inter`: a dirA.union(dirB) would
    // reference the inter subtree twice, and with no exchange boundary at
    // its top the WHOLE candidate+rescore pipeline (prefix join, distinct,
    // two attach joins, intersection agg, two size joins) would execute
    // once per union branch — two full copies in the physical plan. A
    // conditional 2-slot array + explode emits the a→b and b→a rows in
    // the same projection; callers total-order the rows.
    inter
      .select(explode(array(
        when(col("inter_cnt") * 10 > col("a_sz") * minCont10,
          struct(col("a_id").as("contained_id"), col("b_id").as("container_id"),
            col("inter_cnt"), col("a_sz").as("contained_sz"),
            col("b_sz").as("container_sz"))),
        when(col("inter_cnt") * 10 > col("b_sz") * minCont10,
          struct(col("b_id").as("contained_id"), col("a_id").as("container_id"),
            col("inter_cnt"), col("b_sz").as("contained_sz"),
            col("a_sz").as("container_sz"))))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.contained_id"), col("r.container_id"), col("r.inter_cnt"),
        col("r.contained_sz"), col("r.container_sz"))
  }

  val all: Seq[Q] = Seq(
    Q(
      "q_text_stats",
      (s, d) => {
        tbl(s, d, "documents")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("doc_cnt"),
            sum(col("n_chars")).cast("long").as("total_chars"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
            countDistinct(col("source")).as("src_cnt"))
          .orderBy(asc_nulls_first("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS doc_cnt,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
             |  COUNT(DISTINCT source) AS src_cnt
             |FROM documents GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_token_count",
      (s, d) => {
        // Whitespace tokenization + a word-char-run count (BPE-ish proxy:
        // alpha runs rather than split tokens).
        tbl(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ws_tokens"),
            size(split(col("text"), "[a-z]+")).cast("long").minus(1).as("alpha_runs"),
            length(col("text")).cast("long").as("n_chars_live"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |  CAST(len(regexp_split_to_array(text, '[a-z]+')) - 1 AS BIGINT) AS alpha_runs,
             |  CAST(LENGTH(text) AS BIGINT) AS n_chars_live
             |FROM documents ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_text_quality",
      (s, d) => {
        val nTokens = size(split(col("text"), " ")).cast("long")
        val nSpaces = (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long")
        val stopHits = (size(split(concat(lit(" "), col("text"), lit(" ")), " (the|a|of|and) ")) - 1).cast("long")
        val punctCnt = (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long")
        tbl(s, d, "documents")
          .select(col("doc_id"),
            nTokens.as("n_tokens"),
            ((length(col("text")).cast("long") - nSpaces).cast("double") / nTokens).as("avg_token_len"),
            (stopHits.cast("double") / nTokens).as("stopword_ratio"),
            (punctCnt.cast("double") / length(col("text"))).as("punct_ratio"),
            (nTokens >= 20 && nTokens <= 80).as("len_ok"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             |    / len(string_split(text, ' ')) AS avg_token_len,
             |  CAST(len(regexp_split_to_array(' ' || text || ' ', ' (the|a|of|and) ')) - 1 AS DOUBLE)
             |    / len(string_split(text, ' ')) AS stopword_ratio,
             |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
             |    / LENGTH(text) AS punct_ratio,
             |  (len(string_split(text, ' ')) BETWEEN 20 AND 80) AS len_ok
             |FROM documents ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Marker-token language-ID heuristic. The fixture vocabulary is
      // engine-domain word soup, so this scores structural markers —
      // the point is the deterministic classify plumbing, not accuracy.
      "q_lang_id",
      (s, d) => {
        val padded = concat(lit(" "), col("text"), lit(" "))
        tbl(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            when(padded.contains(" the "), "en")
              .when(padded.contains(" der "), "de")
              .when(padded.contains(" el "), "es")
              .when(padded.contains(" le "), "fr")
              .otherwise("unk").as("lang_pred"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""SELECT doc_id, lang,
             |  CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 'en'
             |       WHEN ' ' || text || ' ' LIKE '% der %' THEN 'de'
             |       WHEN ' ' || text || ' ' LIKE '% el %' THEN 'es'
             |       WHEN ' ' || text || ' ' LIKE '% le %' THEN 'fr'
             |       ELSE 'unk' END AS lang_pred
             |FROM documents ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Token-set Jaccard near-dup pairs via inverted-index join on a
      // bounded probe set; similarity threshold via exact integer
      // cross-multiplication (inter*10 > union*6  ⇔  J > 0.6).
      "q_jaccard_pairs",
      (s, d) => {
        // dfCeiling 48: a no-op on this fixture (max token DF is 45 of the
        // 50 probed docs — the synthetic vocabulary is 31 shared tokens),
        // declared so the skew guard is part of the audited plan; the
        // ceiling actually firing is exercised on a planted-stopword
        // fixture in ScaleSpec.
        jaccardPairs(
            tbl(s, d, "documents").filter(col("doc_id") < 50)
              .select(col("doc_id"), explode(split(col("text"), " ")).as("token")),
            dfCeiling = 48)
          .transform(df => sortOnce(df)(asc_nulls_first("a_id"), asc_nulls_first("b_id")))
      },
      Some("""WITH sh0 AS (
             |  SELECT DISTINCT doc_id, token FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |    FROM documents WHERE doc_id < 50)),
             |sh AS (
             |  SELECT doc_id, token FROM sh0
             |  WHERE token NOT IN (
             |    SELECT token FROM sh0 GROUP BY token HAVING COUNT(*) > 48)),
             |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter_cnt
             |  FROM sh a JOIN sh b ON a.token = b.token AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT a_id, b_id, inter_cnt,
             |  CAST(sa.sz + sb.sz - inter_cnt AS BIGINT) AS union_cnt
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = a_id
             |JOIN sizes sb ON sb.doc_id = b_id
             |WHERE inter_cnt * 10 > (sa.sz + sb.sz - inter_cnt) * 6
             |ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // N-GRAM (3-token shingle) set-Jaccard near-dup pairs over the WHOLE
      // corpus — the order-sensitive dedup tier between token-set Jaccard
      // (q_jaccard_pairs: word sets, order-blind) and MinHash-LSH
      // (q_minhash_neardup: the same shingles, sketched). Shingle sets are
      // selective enough that the full inverted-index join stays bounded
      // with no probe filter (max shingle DF 25 at sf0.1, measured);
      // dfCeiling 1000 is the same skew guard as q_jaccard_pairs, a no-op
      // on this fixture. Docs shorter than 3 tokens contribute one
      // whole-doc shingle (mirrored in the oracle's CASE).
      "q_jaccard_shingles",
      (s, d) => {
        // Dedup.shingleHashStream: the SAME 3-token shingle definition the
        // MinHash tier uses (which hashes the shingle strings with md5
        // slices instead, for its oracle) — the exact/sketch cross-tier
        // equivalence depends on it. The tokens fed to jaccardPairs are
        // already 8-byte shingle hashes; its own xxhash64 re-hash of a
        // fixed-width long is noise next to the string hashing it replaces.
        jaccardPairs(
            Dedup.shingleHashStream(tbl(s, d, "documents"))
              .withColumnRenamed("h1", "token"),
            dfCeiling = 1000)
          .transform(df => sortOnce(df)(asc_nulls_first("a_id"), asc_nulls_first("b_id")))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh0 AS (
             |  SELECT DISTINCT doc_id, unnest(
             |    CASE WHEN len(l) >= 3
             |    THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)]
             |    ELSE [array_to_string(l, ' ')] END) AS token
             |  FROM t),
             |sh AS (
             |  SELECT doc_id, token FROM sh0
             |  WHERE token NOT IN (
             |    SELECT token FROM sh0 GROUP BY token HAVING COUNT(*) > 1000)),
             |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter_cnt
             |  FROM sh a JOIN sh b ON a.token = b.token AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT a_id, b_id, inter_cnt,
             |  CAST(sa.sz + sb.sz - inter_cnt AS BIGINT) AS union_cnt
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = a_id
             |JOIN sizes sb ON sb.doc_id = b_id
             |WHERE inter_cnt * 10 > (sa.sz + sb.sz - inter_cnt) * 6
             |ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Directional containment-duplication census: shingle-set
      // containment > 0.8 — doc-inside-doc duplication (quotes,
      // boilerplate inclusion) that symmetric Jaccard scores near zero.
      // Same shingle definition/hash as q_jaccard_shingles;
      // both directions fall out of ONE a<b intersection count, so the
      // cost over q_jaccard_shingles is only the lost size-ratio join
      // prune — which containment semantics genuinely forbid.
      "q_jaccard_containment",
      (s, d) => {
        containmentPairs(
            Dedup.shingleHashStream(tbl(s, d, "documents"))
              .withColumnRenamed("h1", "token"),
            dfCeiling = 1000)
          .transform(df => sortOnce(df)(
            asc_nulls_first("contained_id"), asc_nulls_first("container_id")))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh0 AS (
             |  SELECT DISTINCT doc_id, unnest(
             |    CASE WHEN len(l) >= 3
             |    THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)]
             |    ELSE [array_to_string(l, ' ')] END) AS token
             |  FROM t),
             |sh AS (
             |  SELECT doc_id, token FROM sh0
             |  WHERE token NOT IN (
             |    SELECT token FROM sh0 GROUP BY token HAVING COUNT(*) > 1000)),
             |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter_cnt
             |  FROM sh a JOIN sh b ON a.token = b.token AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |d AS (
             |  SELECT a_id AS contained_id, b_id AS container_id, inter_cnt,
             |         sa.sz AS contained_sz, sb.sz AS container_sz
             |  FROM inter JOIN sizes sa ON sa.doc_id = a_id
             |             JOIN sizes sb ON sb.doc_id = b_id
             |  WHERE inter_cnt * 10 > sa.sz * 8
             |  UNION ALL
             |  SELECT b_id, a_id, inter_cnt, sb.sz, sa.sz
             |  FROM inter JOIN sizes sa ON sa.doc_id = a_id
             |             JOIN sizes sb ON sb.doc_id = b_id
             |  WHERE inter_cnt * 10 > sb.sz * 8)
             |SELECT contained_id, container_id, inter_cnt, contained_sz, container_sz
             |FROM d
             |ORDER BY contained_id ASC NULLS FIRST, container_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Corpus-novelty scoring: per doc, the fraction of its distinct
      // 3-gram shingles whose GLOBAL first appearance (min doc_id) is this
      // doc — low novelty flags documents that mostly restate earlier
      // corpus content (near-copies, boilerplate assemblies, quote farms),
      // the memorization-risk signal curation pipelines rank on. Reuses the
      // canonical shingle definition/hash (Dedup.shingleHashStream — the
      // same shingles the minhash/jaccard/decontamination tiers see, so a
      // doc scored non-novel HERE is the same doc those tiers would
      // candidate). Scale shape: ONE text scan, then three narrow
      // shuffles of ≤16-byte rows — distinct (doc, shingle-hash); a
      // min-over-window partitioned by the hash (NOT a groupBy+join-back:
      // the first-appearance table is corpus-sized — one row per distinct
      // shingle — so the join-back formulation either broadcasts something
      // unbroadcastable at 100 TB or re-shuffles, and re-scans the text to
      // build its second frame); then the per-doc count agg, map-side
      // combined. The oracle groups shingle STRINGS while Spark groups the
      // 64-bit hash — the gate proving collision-freedom at test scale
      // (same convention as q_dedup_keep_best).
      "q_ngram_novelty",
      (s, d) => {
        val byShingle = org.apache.spark.sql.expressions.Window.partitionBy("h1")
        Dedup.shingleHashStream(tbl(s, d, "documents")).distinct()
          .withColumn("first_id", min(col("doc_id")).over(byShingle))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            count(when(col("first_id") === col("doc_id"), 1)).as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            (col("n_novel").cast("double") / col("n_shingles").cast("double"))
              .as("novelty"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, unnest(
             |    CASE WHEN len(l) >= 3
             |    THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN range(1, len(l) - 1)]
             |    ELSE [array_to_string(l, ' ')] END) AS token
             |  FROM t),
             |f AS (SELECT token, MIN(doc_id) AS first_id FROM sh GROUP BY token)
             |SELECT sh.doc_id, COUNT(*) AS n_shingles,
             |  COUNT(*) FILTER (WHERE first_id = sh.doc_id) AS n_novel,
             |  CAST(COUNT(*) FILTER (WHERE first_id = sh.doc_id) AS DOUBLE)
             |    / COUNT(*) AS novelty
             |FROM sh JOIN f USING (token) GROUP BY sh.doc_id
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Bigram (2-token shingle) frequency over the corpus — the n-gram
      // analysis primitive. Same generator→agg shape as q_explode_tokens;
      // shingle construction is a per-row transform, counting is a
      // map-side-combined aggregate.
      "q_top_bigrams",
      (s, d) => {
        // Docs with <2 tokens yield no bigrams: unguarded sequence(1, 0)
        // produces a DESCENDING [1,0] and slice(toks, 0, 2) throws (array
        // indices are 1-based). `when` gates to null, which explode drops —
        // matching the oracle's empty range(1, len(l)). toks is projected
        // to an attribute first: the output must be the bigram STRING so
        // the concat stays, but lambda bodies get no CSE, and slicing
        // split(text) directly would re-run the split per bigram.
        val toks = col("toks")
        val bigrams = when(size(toks) >= 2,
          transform(
            sequence(lit(1), size(toks) - 1),
            i => concat_ws(" ", slice(toks, i, lit(2)))))
        tbl(s, d, "documents")
          .select(split(col("text"), " ").as("toks"))
          .select(explode(bigrams).as("bg"))
          .groupBy("bg")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc_nulls_last("cnt"), asc_nulls_first("bg"))
          .limit(30)
      },
      Some("""WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
             |b AS (SELECT unnest([l[i] || ' ' || l[i+1] FOR i IN range(1, len(l))]) AS bg FROM t)
             |SELECT bg, COUNT(*) AS cnt FROM b GROUP BY bg
             |ORDER BY cnt DESC NULLS LAST, bg ASC NULLS FIRST LIMIT 30""".stripMargin)
    ),
    Q(
      // Collocation mining: top adjacent-token pairs by LIFT —
      // p(xy) / (p(x)·p(y)) = (c_xy·N²) / (M·c_x·c_y) — the classic
      // PMI-family collocation extractor (raw bigram frequency just
      // returns function-word pairs; lift surfaces pairs that co-occur
      // far above chance). Cross-engine determinism: all counts are exact
      // integers, each is cast to DOUBLE once (correctly rounded), and
      // the lift is computed with ONE fixed association mirrored in the
      // oracle — identical IEEE ops in identical order are bit-identical,
      // so the DESC ranking hashes. c_xy ≥ 5 noise floor. Scale shape:
      // two corpus scans (token agg, pair agg — both map-side combined);
      // the unigram side joins on token (AQE broadcasts a small vocab,
      // shuffles a huge one — nothing here REQUIRES broadcast); N and M
      // are 1-row aggregates, bounded broadcasts by construction.
      "q_collocations",
      (s, d) => {
        val toks = col("toks")
        val docsT = tbl(s, d, "documents").select(split(col("text"), " ").as("toks"))
        val uni = docsT.select(explode(toks).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val nTok = uni.agg(sum(col("c")).cast("long").as("n_tok"))
        val pairs = when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => struct(element_at(toks, i).as("x"), element_at(toks, i + 1).as("y"))))
        val bi = docsT.select(explode(pairs).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
        val mTok = bi.agg(sum(col("cxy")).cast("long").as("m_tok"))
        bi.filter(col("cxy") >= 5)
          .join(uni.select(col("tok").as("x"), col("c").as("cx")), "x")
          .join(uni.select(col("tok").as("y"), col("c").as("cy")), "y")
          .crossJoin(broadcast(nTok)).crossJoin(broadcast(mTok))
          .select(col("x"), col("y"), col("cxy"),
            (col("cxy").cast("double") * col("n_tok").cast("double")
              * col("n_tok").cast("double")
              / (col("m_tok").cast("double") * col("cx").cast("double")
                * col("cy").cast("double"))).as("lift"))
          .orderBy(desc_nulls_last("lift"), asc_nulls_first("x"), asc_nulls_first("y"))
          .limit(30)
      },
      Some("""WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
             |uc AS (SELECT tok, COUNT(*) AS c
             |       FROM (SELECT unnest(l) AS tok FROM t) GROUP BY tok),
             |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc),
             |bc AS (
             |  SELECT p['x'] AS x, p['y'] AS y, COUNT(*) AS cxy FROM (
             |    SELECT unnest([{'x': l[i], 'y': l[i+1]} FOR i IN range(1, len(l))]) AS p
             |    FROM t)
             |  GROUP BY 1, 2),
             |m AS (SELECT CAST(SUM(cxy) AS BIGINT) AS m_tok FROM bc)
             |SELECT x, y, CAST(cxy AS BIGINT) AS cxy,
             |  CAST(cxy AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)
             |    / (CAST(m_tok AS DOUBLE) * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))
             |    AS lift
             |FROM bc
             |JOIN uc ux ON bc.x = ux.tok
             |JOIN uc uy ON bc.y = uy.tok
             |CROSS JOIN n CROSS JOIN m
             |WHERE cxy >= 5
             |ORDER BY lift DESC NULLS LAST, x ASC NULLS FIRST, y ASC NULLS FIRST
             |LIMIT 30""".stripMargin)
    ),
    Q(
      // Canonical text normalization — the cleaning primitive every corpus
      // pipeline runs before dedup/tokenization: lowercase, strip
      // non-alphanumerics, collapse whitespace runs, trim. Pure narrow
      // projection (one codegen span); deterministic string ops on both
      // engines. Emits a content hash-groupable normalized form + the
      // shrinkage it caused.
      "q_text_normalize",
      (s, d) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " "))
        tbl(s, d, "documents")
          .select(col("doc_id"),
            norm.as("text_norm"),
            length(col("text")).cast("long").as("len_raw"),
            length(norm).cast("long").as("len_norm"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             |       ' +', ' ', 'g')) AS text_norm,
             |  CAST(LENGTH(text) AS BIGINT) AS len_raw,
             |  CAST(LENGTH(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             |       ' +', ' ', 'g'))) AS BIGINT) AS len_norm
             |FROM documents ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Regex-class tokenization (the BPE-ish tokenizer tier above plain
      // whitespace split): extract alpha runs directly — generator + one
      // map-side-combined count, same scale shape as q_explode_tokens.
      "q_regex_tokenize",
      (s, d) => {
        tbl(s, d, "documents")
          .select(explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc_nulls_last("cnt"), asc_nulls_first("tok"))
          .limit(25)
      },
      Some("""SELECT tok, COUNT(*) AS cnt
             |FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS tok FROM documents)
             |GROUP BY tok
             |ORDER BY cnt DESC NULLS LAST, tok ASC NULLS FIRST
             |LIMIT 25""".stripMargin)
    ),
    Q(
      // Corpus TF-IDF (raw variant: tf · N / df — exact integer numerator,
      // ONE correctly-rounded IEEE division, so it is oracle-hashable;
      // a log-idf would diverge in libm's last bits across engines).
      // Every stage is keyed: tf by (doc, term), df by term, top-3 per doc
      // by window — no driver-side loop, no unkeyed shuffle; the corpus
      // size N is a 1-row broadcast.
      "q_tfidf",
      (s, d) => {
        val toks = tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = tbl(s, d, "documents").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("doc_id")
          .orderBy(desc_nulls_last("score"), asc_nulls_first("term"))
        tf.join(dfreq, "term")
          .crossJoin(broadcast(n))
          .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rn"))
          .transform(df => sortOnce(df)(asc_nulls_first("doc_id"), asc_nulls_first("rn")))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |scored AS (
             |  SELECT doc_id, term, tf, df,
             |    CAST(tf * n AS DOUBLE) / df AS score
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
             |SELECT doc_id, term, tf, df, score, rn FROM (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC NULLS LAST, term ASC NULLS FIRST) AS BIGINT) AS rn
             |  FROM scored
             |) WHERE rn <= 3
             |ORDER BY doc_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Winnowing-style document fingerprint: min/max hash over 4-token
      // shingles, PORTABLE-hash form — 60-bit md5-slice per shingle
      // (`conv(substr(md5(s),1,15),16,10)` ≡ DuckDB
      // `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`), same idiom that
      // oracled q_minhash_neardup/q_simhash_dedup. Docs shorter than 4
      // tokens contribute the whole doc as their one shingle. The
      // rolling-hash variant stays available as the registered
      // `rolling_min_hash` extension function (expr/RollingMinHash.scala,
      // ExprSpec codegen≡interpreted) — it is engine-specific by design
      // and so lives outside the oracled surface.
      "q_doc_fingerprint",
      (s, d) => {
        // explode → hash once per shingle → MIN/MAX/COUNT partial
        // aggregates (map-side combine; same scale shape as
        // q_minhash_neardup: only doc_id + 8-byte hashes shuffle, the
        // shingle STRINGS die in the scan stage).
        val toks = col("toks")
        val shingles = when(size(toks) >= 4,
          transform(sequence(lit(0), size(toks) - 4),
            i => concat_ws(" ",
              get(toks, i), get(toks, i + 1), get(toks, i + 2), get(toks, i + 3))))
          .otherwise(array(col("text")))
        tbl(s, d, "documents")
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"),
            conv(md5(col("text")).substr(1, 15), 16, 10).cast("long").as("fp_full"),
            explode(shingles).as("sh"))
          .select(col("doc_id"), col("fp_full"),
            conv(md5(col("sh")).substr(1, 15), 16, 10).cast("long").as("shh"))
          .groupBy("doc_id", "fp_full")
          .agg(
            min(col("shh")).as("fp_min"),
            max(col("shh")).as("fp_max"),
            count(lit(1)).as("n_shingles"))
          .select("doc_id", "fp_min", "fp_max", "fp_full", "n_shingles")
          .transform(df => sortOnce(df)(asc_nulls_first("doc_id")))
      },
      Some("""WITH fp_t AS (
             |  SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
             |fp_sh AS (
             |  SELECT doc_id,
             |    CAST(CONCAT('0x', substr(md5(text), 1, 15)) AS BIGINT) AS fp_full,
             |    unnest(CASE WHEN len(l) >= 4
             |      THEN [l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
             |            FOR i IN range(1, len(l) - 2)]
             |      ELSE [text] END) AS s
             |  FROM fp_t)
             |SELECT doc_id,
             |  MIN(CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS fp_min,
             |  MAX(CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS fp_max,
             |  fp_full,
             |  CAST(COUNT(*) AS BIGINT) AS n_shingles
             |FROM fp_sh GROUP BY doc_id, fp_full
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // PII scrubbing: regex redaction of emails and long digit runs, the
      // pre-training privacy pass. The synthetic corpus carries no real
      // PII, so the contact field is SYNTHESIZED (source@lang.example.com
      // user <id>) to make every row exercise a real match — the redaction
      // plumbing (pattern dialect shared by Java regex and RE2, global
      // replace, per-row hit counts) is exactly what a production scrub
      // runs. Pure projection: codegen'd, no shuffle, scales linearly.
      "q_pii_scrub",
      (s, d) => {
        val contact = concat(col("source"), lit("@"), col("lang"),
          lit(".example.com user "), col("doc_id").cast("string"))
        tbl(s, d, "documents")
          .select(col("doc_id"), contact.as("contact"))
          .select(
            col("doc_id"),
            scrubPii(col("contact")).as("scrubbed"),
            size(regexp_extract_all(col("contact"), lit(EmailPattern), lit(0)))
              .cast("long").as("n_emails"),
            // digit runs on the email-scrubbed intermediate (same order as
            // scrubPii): digits inside an address are [EMAIL], not [NUM]
            size(regexp_extract_all(
              regexp_replace(col("contact"), EmailPattern, "[EMAIL]"),
              lit(LongDigitPattern), lit(0)))
              .cast("long").as("n_nums"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH c AS (
             |  SELECT doc_id,
             |    source || '@' || lang || '.example.com user ' || CAST(doc_id AS VARCHAR) AS contact
             |  FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(contact,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |    '[0-9]{3,}', '[NUM]', 'g') AS scrubbed,
             |  CAST(len(regexp_extract_all(contact,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(regexp_replace(contact,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |    '[0-9]{3,}')) AS BIGINT) AS n_nums
             |FROM c
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Sliding-window text chunking — the embedding/RAG prep step: split
      // each document into overlapping token windows (w=32, stride 16) so
      // downstream encoders see bounded inputs with context overlap.
      // Generator + narrow projection: no shuffle before the declared
      // final sort; at 100 TB the only cost to budget is the deliberate
      // w/stride byte amplification (2× here) on the output. Convention:
      // window starts at 0, stride, 2·stride … ≤ max(n−w, 0) — the final
      // window is full-length when it fits, else the whole short doc;
      // trailing tokens past the last start+w are the next stage's
      // problem, exactly like training-context packing.
      "q_chunk_windows",
      (s, d) => {
        val w = 32
        val st = 16
        tbl(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
            explode(sequence(lit(0), greatest(size(col("toks")) - w, lit(0)),
              lit(st))).as("start"))
          .select(col("doc_id"),
            floor(col("start") / st).cast("long").as("chunk_idx"),
            col("start").cast("long").as("start_tok"),
            least(lit(w), col("n") - col("start")).cast("long").as("n_chunk_tokens"),
            array_join(slice(col("toks"), col("start") + 1, lit(w)), " ").as("chunk_text"))
          .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("chunk_idx"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |c AS (
             |  SELECT doc_id, l, len(l) AS n,
             |    unnest(range(0, greatest(len(l) - 32, 0) + 1, 16)) AS start
             |  FROM t)
             |SELECT doc_id,
             |  CAST(start // 16 AS BIGINT) AS chunk_idx,
             |  CAST(start AS BIGINT) AS start_tok,
             |  CAST(least(32, n - start) AS BIGINT) AS n_chunk_tokens,
             |  array_to_string(l[start + 1 : start + 32], ' ') AS chunk_text
             |FROM c
             |ORDER BY doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Repetition quality signals (Gopher-style): repeated-token ratio
      // (1 − distinct/total) and top-token share per document — high
      // values flag boilerplate/spam before training. Two-level agg: the
      // (doc_id, token) count combines map-side, the per-doc rollup
      // shuffles one row per distinct (doc, token). The single IEEE
      // division (and subtraction) happens LAST on both engines —
      // bit-identical, per the determinism conventions.
      "q_quality_repetition",
      (s, d) => {
        tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).cast("long").as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            max(col("c")).cast("long").as("top_cnt"))
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"))
              .as("rep_ratio"),
            (col("top_cnt").cast("double") / col("n_tokens").cast("double"))
              .as("top_share"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
             |cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t)
             |SELECT doc_id,
             |  CAST(SUM(c) AS BIGINT) AS n_tokens,
             |  COUNT(*) AS n_distinct,
             |  1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio,
             |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
             |FROM cnt GROUP BY doc_id
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Rare-token ratio (CCNet-style vocabulary novelty): per document,
      // the share of token occurrences whose corpus document frequency is
      // ≤ dfMax — high ratios flag gibberish/OCR noise, near-zero ratios
      // flag boilerplate. The TF-IDF shape at scale: tokens are xxhash64'd
      // at the scan so every shuffle (the distinct for DF, the occurrence
      // join on token, the per-doc rollup) moves an 8-byte key, never the
      // string. TWO independent streaming scans feed the DF count and the
      // occurrence join — NO resident copy: localCheckpointing the
      // exploded (doc_id, hash) frame to share it is a ~250 M-row
      // materialization at sf100 that starves execution memory through
      // the protected storage fraction — the exact q_bm25/
      // q_session_window resident-copy cliff (measured 31× decade sf10→
      // sf100, GCLocker thrash at the 8 GB ledger heap — PROFILE_r19).
      // Tokenize-twice is a cheap streaming projection; a data-sized copy
      // is impossible at 100 TB. Exact
      // integer numerator, ONE final IEEE division. Collision caveat as
      // the shingle family: a 64-bit token collision merges two DF
      // counts — expectation ≪1 through billions of distinct tokens.
      "q_rare_token_ratio",
      (s, d) => {
        val dfMax = 2L
        def toks = tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"), xxhash64(col("tok")).as("th"))
        val dfCnt = toks.distinct()
          .groupBy("th").agg(count(lit(1)).as("df"))
        toks.join(dfCnt, Seq("th"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            count(when(col("df") <= dfMax, 1)).as("n_rare"))
          .select(col("doc_id"), col("n_tokens"), col("n_rare"),
            (col("n_rare").cast("double") / col("n_tokens").cast("double"))
              .as("rare_ratio"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |d AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY tok)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  COUNT(*) FILTER (WHERE df <= 2) AS n_rare,
             |  CAST(COUNT(*) FILTER (WHERE df <= 2) AS DOUBLE) / COUNT(*) AS rare_ratio
             |FROM t JOIN d USING (tok) GROUP BY doc_id
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Gopher/C4-style RULE-BASED quality filter — the standard
      // pre-training curation gate (length bounds, mean-word-length band,
      // minimum stopword evidence, symbol-to-word ceiling), emitted as one
      // boolean per named rule plus the composed keep decision, so a
      // pipeline can both filter on `keep` and audit WHICH rule rejected
      // each document. All rule comparisons are exact-integer (cross-
      // multiplied bounds, never a float threshold) — bit-identical across
      // engines; the one double metric is a single final IEEE division.
      // Narrow projection, no shuffle below the declared sort: at 100 TB
      // this is a scan-speed map stage, composable in front of any
      // pipeline the same way scrubPii/stripMarkup are — the reusable
      // [[qualityRules]] is the single definition this query and the
      // TrainingPipelineExample stage both run.
      "q_quality_rules",
      (s, d) => {
        qualityRules(tbl(s, d, "documents"))
          .select("doc_id", "n_words", "mean_word_len", "stop_hits",
            "sym_cnt", "r_len", "r_wlen", "r_stop", "r_sym", "keep")
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             |    CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS n_chars_nw,
             |    CAST(len(regexp_split_to_array(' ' || text || ' ',
             |      ' (the|a|of|and|to|in) ')) - 1 AS BIGINT) AS stop_hits,
             |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[#@%]', '', 'g'))
             |      AS BIGINT) AS sym_cnt
             |  FROM documents)
             |SELECT doc_id, n_words,
             |  CAST(n_chars_nw AS DOUBLE) / n_words AS mean_word_len,
             |  stop_hits, sym_cnt,
             |  (n_words BETWEEN 10 AND 5000) AS r_len,
             |  (n_chars_nw >= n_words * 2 AND n_chars_nw <= n_words * 12) AS r_wlen,
             |  (stop_hits >= 2) AS r_stop,
             |  (sym_cnt * 10 <= n_words) AS r_sym,
             |  ((n_words BETWEEN 10 AND 5000)
             |    AND (n_chars_nw >= n_words * 2 AND n_chars_nw <= n_words * 12)
             |    AND stop_hits >= 2 AND sym_cnt * 10 <= n_words) AS keep
             |FROM m ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // HTML boilerplate stripping — the raw-web extraction step. The
      // corpus is plain text, so markup is synthesized around each doc
      // (same convention as q_pii_scrub's contact field) — and the markup
      // VARIES deterministically per doc_id across five adversarial
      // shapes: `>` inside quoted attributes, named/decimal/
      // hex entities, comments containing bare `>`, self-closing tags,
      // ADJACENT script/script and script/style blocks, and a trailing
      // unclosed tag (which by the documented grammar survives as text).
      // Narrow projection, no shuffle before the declared sort; the
      // reusable TextOps.stripMarkup is the single definition both this
      // query and any pipeline stage compose, and its pattern constants
      // render verbatim into the oracle SQL.
      "q_html_strip",
      (s, d) => {
        val v = pmod(col("doc_id"), lit(5)).cast("int")
        tbl(s, d, "documents")
          .select(col("doc_id"),
            concat(get(array(HtmlPrefixes.map(lit): _*), v), col("text"),
              get(array(HtmlSuffixes.map(lit): _*), v)).as("html"))
          .select(col("doc_id"),
            stripMarkup(col("html")).as("clean"),
            size(regexp_extract_all(col("html"), lit("<[^>]+>"), lit(0)))
              .cast("long").as("n_tags"),
            length(col("html")).cast("long").as("raw_chars"))
          .withColumn("clean_chars", length(col("clean")).cast("long"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some(s"""WITH h AS (
             |  SELECT doc_id,
             |    list_extract(${sqlStrList(HtmlPrefixes)},
             |      CAST(doc_id % 5 AS INTEGER) + 1) || text ||
             |    list_extract(${sqlStrList(HtmlSuffixes)},
             |      CAST(doc_id % 5 AS INTEGER) + 1) AS html
             |  FROM documents)
             |SELECT doc_id,
             |  ${stripSqlExpr("html")} AS clean,
             |  CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags,
             |  CAST(len(html) AS BIGINT) AS raw_chars,
             |  CAST(len(${stripSqlExpr("html")}) AS BIGINT) AS clean_chars
             |FROM h
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Character-diversity quality score: Simpson/Gini index over the
      // byte distribution of each document (1 − Σc²/n²) — near-zero flags
      // single-character spam, high values flag natural text; the classic
      // cheap gibberish gate beside word-level rep_ratio
      // (q_quality_repetition). The numerator Σc² comes from the
      // CharSquareSum codegen expression — a register loop per row, one
      // whole-stage-codegen span, NO shuffle (the explode+double-groupBy
      // alternative the oracle runs shuffles |text| rows per doc — fine
      // for DuckDB at sf0.01, wrong at 100 TB). Exact integer numerator
      // and denominator; ONE final IEEE division (then an exact 1−x), so
      // the doubles hash across engines. Byte semantics == char semantics
      // on the ASCII fixture (documented in CharSquareSum).
      "q_char_diversity",
      (s, d) => {
        tbl(s, d, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            graft.expr.CharSquareSum(col("text")).as("sq"))
          .select(col("doc_id"), col("n_chars"),
            (lit(1.0) - col("sq").cast("double") /
              (col("n_chars") * col("n_chars")).cast("double")).as("char_gini"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH ch AS (
             |  SELECT doc_id, unnest(string_split(text, '')) AS c
             |  FROM documents WHERE len(text) > 0),
             |cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2)
             |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_chars,
             |  1.0 - CAST(SUM(k * k) AS DOUBLE) /
             |    CAST(CAST(SUM(k) AS BIGINT) * CAST(SUM(k) AS BIGINT) AS DOUBLE)
             |    AS char_gini
             |FROM cc GROUP BY doc_id
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Boilerplate-span census: the top 4-token spans by distinct-doc
      // frequency — the denylist a template/boilerplate-removal stage
      // broadcasts (C4/CCNet-style frequent-line pruning; the fixture has
      // no newlines, so fixed-k token spans stand in for lines). Spans are
      // generated with the same 1-based slice convention as
      // q_substring_dedup; the census groups by span TEXT (bounded k·word
      // bytes per key, map-side combined — same call as q_collocations'
      // token grouping; the distinct-doc count shuffles (span, doc_id)
      // pairs once). Total tiebreak (n_docs, n_occ, span) pins the
      // LIMIT 20 cut on both engines.
      "q_boilerplate_spans",
      (s, d) => {
        val k = 4
        val toks = split(col("text"), " ")
        val spanArr = when(size(toks) >= k,
          transform(sequence(lit(1), size(toks) - (k - 1)),
            i => array_join(slice(toks, i, lit(k)), " ")))
        tbl(s, d, "documents")
          .select(col("doc_id"), explode(spanArr).as("span"))
          .groupBy("span")
          .agg(count_distinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"))
          .filter(col("n_docs") >= 2)
          .orderBy(desc_nulls_last("n_docs"), desc_nulls_last("n_occ"),
            asc_nulls_first("span"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sp AS (
             |  SELECT doc_id, unnest(
             |    CASE WHEN len(l) >= 4
             |    THEN [array_to_string(l[i:i+3], ' ') FOR i IN range(1, len(l) - 2)]
             |    ELSE [] END) AS span
             |  FROM t)
             |SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  COUNT(*) AS n_occ
             |FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
             |ORDER BY n_docs DESC NULLS LAST, n_occ DESC NULLS LAST,
             |  span ASC NULLS FIRST
             |LIMIT 20""".stripMargin)
    ),
    Q(
      // BM25 retrieval scoring for a fixed 3-term query — the IR ranking
      // step behind retrieval-augmented data curation. IDF is the ODDS
      // form ((N−df+0.5)/(df+0.5), no log): libm log diverges in the last
      // bits across engines and the repo convention (see q_tfidf) is to
      // keep rankings log-free; the odds form is order-isomorphic to the
      // log form per term. Per-term scores land in FIXED pivot columns and
      // the total is the FIXED association ((s_spark+s_vector)+s_dup) —
      // never a SUM over rows, whose accumulation order is partition-
      // dependent. Every input to each IEEE op is either an exact integer
      // cast or the result of the same op sequence on both engines, so
      // scores are bit-identical and the DESC ranking hashes. Scale: df
      // and corpus stats are 3-row/1-row broadcasts; the isin filter
      // prunes the explode before the only (doc_id-keyed) shuffle.
      "q_bm25",
      (s, d) => {
        val terms = Seq("spark", "vector", "dup")
        // TWO independent scans, NO caching: localCheckpointing the
        // tokenized corpus (doc_id + full token array) to share it between
        // the stats agg and the tf explode is, at 5 M docs, multi-GB of
        // block-manager storage, and the protected storage fraction
        // starves the tf aggregation's execution memory
        // ([AGGREGATE_OUT_OF_MEMORY] at the 8 GB heap every other sf100
        // key runs under, PROFILE_r18). Tokenizing twice is a cheap
        // streaming projection; holding the tokenized corpus is a
        // resident copy that grows with the data — at 100 TB the scan
        // is repeatable, the copy is impossible.
        val stats = tbl(s, d, "documents")
          .select(size(split(col("text"), " ")).cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("sum_dl"))
        val tf = tbl(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            explode(col("toks")).as("tok"))
          .filter(col("tok").isin(terms: _*))
          .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val nD = col("n_docs").cast("double")
        val dfD = col("df").cast("double")
        val idf = ((nD - dfD) + lit(0.5)) / (dfD + lit(0.5))
        val avgdl = col("sum_dl").cast("double") / nD
        val norm = lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") / avgdl))
        val sat = (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + norm)
        def s4(t: String) = coalesce(
          max(when(col("tok") === t, col("score_t"))), lit(0.0)).as(s"s_$t")
        tf.join(broadcast(df), "tok").crossJoin(broadcast(stats))
          .select(col("doc_id"), col("tok"), (idf * sat).as("score_t"))
          .groupBy("doc_id")
          .agg(s4("spark"), s4("vector"), s4("dup"))
          .select(col("doc_id"), col("s_spark"), col("s_vector"), col("s_dup"),
            ((col("s_spark") + col("s_vector")) + col("s_dup")).as("score"))
          .orderBy(desc_nulls_last("score"), asc_nulls_first("doc_id"))
          .limit(20)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |dd AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl, l FROM d),
             |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
             |       FROM dd),
             |tf AS (
             |  SELECT doc_id, dl, tok, COUNT(*) AS tf
             |  FROM (SELECT doc_id, dl, unnest(l) AS tok FROM dd)
             |  WHERE tok IN ('spark', 'vector', 'dup')
             |  GROUP BY doc_id, dl, tok),
             |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
             |sc AS (
             |  SELECT tf.doc_id, tf.tok,
             |    (((CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE)) + 0.5)
             |      / (CAST(df.df AS DOUBLE) + 0.5))
             |    * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
             |      / (CAST(tf.tf AS DOUBLE)
             |        + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
             |          + CAST(0.75 AS DOUBLE) * (CAST(tf.dl AS DOUBLE)
             |            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
             |    AS score_t
             |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN st),
             |p AS (
             |  SELECT doc_id,
             |    COALESCE(MAX(CASE WHEN tok = 'spark' THEN score_t END), 0.0)
             |      AS s_spark,
             |    COALESCE(MAX(CASE WHEN tok = 'vector' THEN score_t END), 0.0)
             |      AS s_vector,
             |    COALESCE(MAX(CASE WHEN tok = 'dup' THEN score_t END), 0.0)
             |      AS s_dup
             |  FROM sc GROUP BY doc_id)
             |SELECT doc_id, s_spark, s_vector, s_dup,
             |  ((s_spark + s_vector) + s_dup) AS score
             |FROM p
             |ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST
             |LIMIT 20""".stripMargin)
    ),
    Q(
      // Flesch-style readability score: reading ease from words,
      // vowel-group syllable proxy ([aeiouy]+ runs — the standard
      // dictionary-free estimate), and 16-token pseudo-sentences (the
      // fixture has no sentence punctuation; a fixed window is the
      // deterministic stand-in). All three counts are exact integers in
      // the shared Java-regex/RE2 dialect; the score combines TWO
      // correctly-rounded divisions with one FIXED association mirrored
      // in the oracle ⇒ bit-identical doubles. Narrow codegen'd
      // projection — scan-speed at any corpus size.
      "q_readability",
      (s, d) => {
        tbl(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_words"),
            size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
              .cast("long").as("n_syll"))
          .withColumn("sents", expr("(n_words + 15) div 16"))
          .select(col("doc_id"), col("n_words"), col("n_syll"), col("sents"),
            ((lit(206.835) - (lit(1.015) *
              (col("n_words").cast("double") / col("sents").cast("double"))))
              - (lit(84.6) *
                (col("n_syll").cast("double") / col("n_words").cast("double"))))
              .as("flesch"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
             |      AS n_syll
             |  FROM documents),
             |c AS (SELECT doc_id, n_words, n_syll,
             |        CAST((n_words + 15) // 16 AS BIGINT) AS sents FROM t)
             |SELECT doc_id, n_words, n_syll, sents,
             |  (CAST(206.835 AS DOUBLE) - (CAST(1.015 AS DOUBLE) *
             |    (CAST(n_words AS DOUBLE) / CAST(sents AS DOUBLE))))
             |  - (CAST(84.6 AS DOUBLE) *
             |    (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))) AS flesch
             |FROM c
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Unigram-LM surprisal score per document — the CCNet-style quality
      // signal LLM curation ranks on (very low = boilerplate/spam built
      // from the most common tokens, very high = rare-token noise; the
      // middle band is natural text). Hash-exact across engines because
      // the per-token surprisal is the integer BIT LENGTH of the inverse
      // frequency — bitlen(N div cnt) = floor(log2(N/cnt)) + 1 — instead
      // of a floating log whose last ulp differs between libm and the
      // JVM: Spark length(conv(x,10,2)) ≡ DuckDB length(format('{:b}',x))
      // exactly, sums stay in BIGINT, and the per-doc mean is ONE final
      // correctly-rounded IEEE division.
      //
      // Scale shape: token stream reduces to a (hash, cnt) vocab frame in
      // one map-side-combined shuffle; the corpus total N (1-row agg)
      // broadcast-crosses the VOCAB frame, never the token stream; the
      // stream then equi-joins the hashed vocab (strings never shuffle —
      // 8-byte hashes on the wire, same as q_rare_token_ratio) and
      // reduces per doc.
      "q_unigram_surprisal",
      (s, d) => {
        // def, not localCheckpoint: the checkpointed 600 M-row token frame
        // starved execution memory at sf100 (UNABLE_TO_ACQUIRE_MEMORY in
        // the vocab agg — the q_bm25 resident-copy cliff, PROFILE_r19 §7);
        // each consumer re-runs the streaming scan instead. The corpus
        // total also now derives from the VOCAB frame (Σ cnt ≡ token
        // count), so the query is two scans, not three.
        def toks = tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"), xxhash64(col("tok")).as("th"))
        val cnt = toks.groupBy("th").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = false) // vocab-sized; feeds total + join
        val total = cnt.agg(sum(col("cnt")).as("total"))
        val surp = cnt.crossJoin(broadcast(total))
          .select(col("th"),
            length(conv(expr("total div cnt"), 10, 2)).cast("long").as("surp"))
        toks.join(surp, Seq("th"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum(col("surp")).as("s"))
          .select(col("doc_id"), col("n_tokens"),
            col("s").cast("long").as("surp_sum"),
            (col("s").cast("double") / col("n_tokens").cast("double"))
              .as("mean_surprisal"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
             |n AS (SELECT COUNT(*) AS total FROM t),
             |s AS (SELECT tok,
             |        CAST(length(format('{:b}', total // cnt)) AS BIGINT)
             |          AS surp
             |      FROM c CROSS JOIN n)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(surp) AS BIGINT) AS surp_sum,
             |  CAST(SUM(surp) AS DOUBLE) / COUNT(*) AS mean_surprisal
             |FROM t JOIN s USING (tok)
             |GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Document-length distribution in power-of-two bands per source —
      // the first profile a curator pulls on a new corpus (truncation
      // spikes, empty-doc pathologies, per-source length character). Band
      // = integer bit length of n_chars (the q_unigram_surprisal idiom:
      // Spark conv(x,10,2) ≡ DuckDB format('{:b}',x) exactly — no float
      // log2 at band edges). One map-side-combined rollup on a bounded
      // (source × ~20 bands) key space; min/max per band are exact ints.
      "q_length_dist",
      (s, d) => {
        tbl(s, d, "documents")
          .groupBy(col("source"),
            length(conv(col("n_chars"), 10, 2)).cast("long").as("len_band"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(asc_nulls_first("source"), asc_nulls_first("len_band"))
      },
      Some("""SELECT source,
             |  CAST(length(format('{:b}', n_chars)) AS BIGINT) AS len_band,
             |  COUNT(*) AS n_docs,
             |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM documents GROUP BY 1, 2
             |ORDER BY source ASC NULLS FIRST, len_band ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Vocabulary growth (type-token ratio) per source — the Heaps'-law
      // census that flags template-generated sources (tiny vocabulary,
      // huge token count) vs natural text. Engine counts distinct 8-byte
      // token hashes so strings never shuffle (equal to the oracle's
      // distinct-string count modulo a 64-bit collision, the
      // q_dup_ratio_by_source precedent); exact-integer numerators, ONE
      // final division.
      "q_vocab_growth",
      (s, d) => {
        tbl(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .select(col("source"), xxhash64(col("tok")).as("th"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("th")).as("n_types"))
          .withColumn("ttr",
            col("n_types").cast("double") / col("n_tokens").cast("double"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""WITH t AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS tok
             |  FROM documents)
             |SELECT source, COUNT(*) AS n_tokens,
             |  COUNT(DISTINCT tok) AS n_types,
             |  CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS ttr
             |FROM t GROUP BY source
             |ORDER BY source ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Bigram conditional surprisal per document — the second-order LM
      // quality score next to q_unigram_surprisal (a KenLM-style signal:
      // low = formulaic n-gram-predictable text, high = incoherent token
      // salad; unigram scoring cannot tell "the the the" from fluent
      // prose built of common words). Per bigram (w1,w2): surprisal =
      // bitlen(cnt(w1·) div cnt(w1,w2)) — the integer floor-log2 of the
      // inverse CONDITIONAL frequency, exact on both engines (the
      // q_unigram_surprisal idiom); cnt(w1·) counts w1 as bigram START
      // (non-last tokens), so cnt1 ≥ cnt2 always and the division is
      // well-defined. Per-doc mean is ONE final IEEE division.
      //
      // Scale shape: bigrams assemble with lead() over per-doc windows
      // (bounded partitions — a doc, not a corpus; the q_markov
      // precedent); both count frames are vocab-sized map-side-combined
      // aggregates on 8-byte hashes; the stream equi-joins the scored
      // bigram vocab on its hash — strings never shuffle.
      "q_bigram_surprisal",
      (s, d) => {
        // Bigrams assemble by ZIPPING the hashed-token array in a
        // pure projection — no per-doc lead() window (which shuffled +
        // sorted the whole 600 M-row token stream) and no localCheckpoint
        // (the resident-copy cliff at sf100, see q_unigram_surprisal);
        // with assembly this cheap, each of the three consumers re-runs
        // the scan. h1 is the same per-token xxhash64; h2 hashes the
        // token-hash PAIR instead of the string pair — a stand-in with
        // identical grouping identity (the shingle hash-of-hashes
        // precedent), invisible to the output.
        val th = col("th")
        def bg = tbl(s, d, "documents")
          .select(col("doc_id"),
            transform(split(col("text"), " "), t => xxhash64(t)).as("th"))
          .filter(size(th) >= 2)
          .select(col("doc_id"), explode(
            transform(sequence(lit(0), size(th) - 2),
              i => struct(get(th, i).as("h1"),
                xxhash64(get(th, i), get(th, i + 1)).as("h2")))).as("p"))
          .select(col("doc_id"), col("p.h1").as("h1"), col("p.h2").as("h2"))
        val c1 = bg.groupBy("h1").agg(count(lit(1)).as("cnt1"))
        val c2 = bg.groupBy("h1", "h2").agg(count(lit(1)).as("cnt2"))
        val scored = c2.join(c1, "h1")
          .select(col("h2"),
            length(conv(expr("cnt1 div cnt2"), 10, 2)).cast("long").as("surp"))
        bg.join(scored, Seq("h2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("surp")).as("s"))
          .select(col("doc_id"), col("n_bigrams"),
            col("s").cast("long").as("surp_sum"),
            (col("s").cast("double") / col("n_bigrams").cast("double"))
              .as("mean_surprisal"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
             |          FROM documents),
             |bg AS (SELECT doc_id,
             |         unnest([l[i] || ' ' || l[i+1] FOR i IN range(1, len(l))])
             |           AS bg
             |       FROM t WHERE len(l) >= 2),
             |c1 AS (SELECT split_part(bg, ' ', 1) AS w, COUNT(*) AS cnt1
             |       FROM bg GROUP BY 1),
             |c2 AS (SELECT bg, COUNT(*) AS cnt2 FROM bg GROUP BY bg),
             |s AS (SELECT c2.bg,
             |        CAST(length(format('{:b}', cnt1 // cnt2)) AS BIGINT)
             |          AS surp
             |      FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  CAST(SUM(surp) AS BIGINT) AS surp_sum,
             |  CAST(SUM(surp) AS DOUBLE) / COUNT(*) AS mean_surprisal
             |FROM bg JOIN s USING (bg)
             |GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // DSIR-style importance weight per document (Xie et al. 2023, "Data
      // Selection via Importance Resampling"): score every doc by how much
      // its hashed-unigram profile resembles a TARGET domain (here the
      // lang='en' slice) relative to the whole corpus — the standard
      // cheap-LM recipe for target-domain data selection. Features are
      // 4096 hash buckets keyed by the first 3 hex chars of md5(token) —
      // md5 is the ONE hash both engines spell identically (lowercase
      // hex), so bucket assignment matches the oracle exactly (the
      // xxhash64-only idiom elsewhere can't cross engines). Per bucket b,
      // with +1 smoothing and T/R the smoothed totals: the log-likelihood
      // ratio log2(tgt_b/T / (raw_b/R)) is taken as the exact INTEGER
      //   w_b = f(tcs*Rs div rcs*Ts) - f(rcs*Ts div tcs*Rs),
      // f = binary bit length with f(0)=1 — a signed floor-log2 with a
      // deadband on ratios in (1/2, 2), zero float logs to diverge.
      // Products run in DECIMAL(19,0)² → DECIMAL(38,0) (HUGEINT on the
      // oracle side) so corpus-scale counts cannot overflow; quotients
      // fit BIGINT by construction (≤ max smoothed total).
      //
      // Scale shape: the token stream is scanned ONCE, collapsing to a
      // per-(doc, bucket) count frame — bounded by docs × min(doc tokens,
      // 4096), typically ~10× smaller than the stream — and every later
      // stage (corpus/target bucket counts, per-doc scoring) is an integer
      // rollup of that frame; the 1-row totals broadcast-cross the ≤4096-
      // row BUCKET frame, never the stream, and the scored frame
      // broadcast-joins back.
      "q_importance_weights",
      (s, d) => {
        // No doc×bucket checkpoint (a ~20 GB resident copy at sf100 —
        // the resident-copy cliff, see q_unigram_surprisal). The stream is
        // a def; the corpus AND target bucket counts fold into ONE
        // conditional aggregation over it (count + count-if-en per bucket
        // ≡ the old raw ⟕ tgt, since target buckets ⊂ raw buckets), so
        // the whole query is two streaming scans and only the ≤4096-row
        // bucket frame persists.
        def stream = tbl(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"), col("lang"),
            substring(md5(col("tok")), 1, 3).as("b"))
        val sm = stream.groupBy("b")
          .agg((count(when(col("lang") === "en", 1)) + 1L).as("tcs"),
            (count(lit(1)) + 1L).as("rcs"))
          // ≤4096 rows, two consumers (totals + scored)
          .localCheckpoint(eager = false)
        val totals = sm.agg(sum(col("tcs")).as("tt"), sum(col("rcs")).as("rt"))
        val scored = sm.crossJoin(broadcast(totals))
          .withColumn("a1", expr("cast(tcs as decimal(19,0)) * cast(rt as decimal(19,0))"))
          .withColumn("a2", expr("cast(rcs as decimal(19,0)) * cast(tt as decimal(19,0))"))
          .select(col("b"),
            (length(conv(expr("a1 div a2"), 10, 2)).cast("long") -
              length(conv(expr("a2 div a1"), 10, 2)).cast("long")).as("wb"))
        stream.join(broadcast(scored), Seq("b"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("wb")).as("ws"))
          .select(col("doc_id"), col("n_tokens"),
            col("ws").cast("long").as("w_sum"),
            (col("ws").cast("double") / col("n_tokens").cast("double"))
              .as("mean_w"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang,
             |    substring(md5(unnest(string_split(text, ' '))), 1, 3) AS b
             |  FROM documents),
             |raw AS (SELECT b, COUNT(*) AS rc FROM t GROUP BY b),
             |tgt AS (SELECT b, COUNT(*) AS tc FROM t WHERE lang = 'en'
             |        GROUP BY b),
             |sm AS (SELECT raw.b, COALESCE(tc, 0) + 1 AS tcs, rc + 1 AS rcs
             |       FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
             |tot AS (SELECT SUM(tcs) AS tt, SUM(rcs) AS rt FROM sm),
             |sc AS (SELECT b,
             |         CAST(length(format('{:b}', CAST(
             |           (CAST(tcs AS HUGEINT) * rt) //
             |           (CAST(rcs AS HUGEINT) * tt) AS BIGINT))) AS BIGINT)
             |         - CAST(length(format('{:b}', CAST(
             |           (CAST(rcs AS HUGEINT) * tt) //
             |           (CAST(tcs AS HUGEINT) * rt) AS BIGINT))) AS BIGINT)
             |           AS wb
             |       FROM sm CROSS JOIN tot)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(wb) AS BIGINT) AS w_sum,
             |  CAST(SUM(wb) AS DOUBLE) / COUNT(*) AS mean_w
             |FROM t JOIN sc USING (b)
             |GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Tokenizer-fertility census per language — chars/token and
      // tokens/doc per lang (the first number a tokenizer owner checks on
      // a new slice: CJK text at whitespace granularity shows extreme
      // chars-per-token, a spam slice shows abnormal tokens-per-doc).
      // Token counts via size(split) — the stream never widens through an
      // explode; all sums exact BIGINT, each ratio ONE correctly-rounded
      // division. One map-side-combined rollup to a ~5-row lang frame.
      "q_token_fertility",
      (s, d) => {
        tbl(s, d, "documents")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"))
          .select(col("lang"), col("n_docs"), col("sum_chars"),
            col("sum_tokens"),
            (col("sum_chars").cast("double") / col("sum_tokens").cast("double"))
              .as("chars_per_tok"),
            (col("sum_tokens").cast("double") / col("n_docs").cast("double"))
              .as("toks_per_doc"))
          .orderBy(asc_nulls_first("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             |    AS BIGINT) AS sum_tokens,
             |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
             |    / CAST(CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             |        AS BIGINT) AS DOUBLE) AS chars_per_tok,
             |  CAST(CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             |        AS BIGINT) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS toks_per_doc
             |FROM documents GROUP BY lang
             |ORDER BY lang ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Language-ID confusion census — the eval frame for the q_lang_id
      // heuristic (same marker-token predictor, one definition in spirit:
      // the CASE chain is the hash-oracled q_lang_id classifier verbatim):
      // per (true lang, predicted) doc counts with per-true-lang recall
      // and per-prediction precision. The grade every classifier change
      // ships with; counts exact BIGINT, recall/precision each ONE
      // division over window sums on the bounded ≤(langs × langs+1)
      // confusion frame.
      "q_lang_confusion",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val padded = concat(lit(" "), col("text"), lit(" "))
        tbl(s, d, "documents")
          .select(col("lang"),
            when(padded.contains(" the "), "en")
              .when(padded.contains(" der "), "de")
              .when(padded.contains(" el "), "es")
              .when(padded.contains(" le "), "fr")
              .otherwise("unk").as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("recall",
            col("n_docs").cast("double") /
              sum(col("n_docs")).over(W.partitionBy("lang")).cast("double"))
          .withColumn("precision",
            col("n_docs").cast("double") /
              sum(col("n_docs")).over(W.partitionBy("lang_pred")).cast("double"))
          .orderBy(asc_nulls_first("lang"), asc_nulls_first("lang_pred"))
      },
      Some("""WITH p AS (
             |  SELECT lang,
             |    CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 'en'
             |         WHEN ' ' || text || ' ' LIKE '% der %' THEN 'de'
             |         WHEN ' ' || text || ' ' LIKE '% el %' THEN 'es'
             |         WHEN ' ' || text || ' ' LIKE '% le %' THEN 'fr'
             |         ELSE 'unk' END AS lang_pred
             |  FROM documents),
             |c AS (SELECT lang, lang_pred, COUNT(*) AS n_docs
             |      FROM p GROUP BY lang, lang_pred)
             |SELECT lang, lang_pred, n_docs,
             |  CAST(n_docs AS DOUBLE)
             |    / CAST(CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
             |        AS DOUBLE) AS recall,
             |  CAST(n_docs AS DOUBLE)
             |    / CAST(CAST(SUM(n_docs) OVER (PARTITION BY lang_pred)
             |        AS BIGINT) AS DOUBLE) AS precision
             |FROM c
             |ORDER BY lang ASC NULLS FIRST, lang_pred ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Zipf-slope census per source — the rank-frequency fingerprint of
      // a corpus slice: natural text fits log f ≈ a + s·log r with
      // s ≈ −1; machine-generated/spammy slices bend the curve (|s| well
      // off 1, or a flat head). Ranks the per-source vocabulary by
      // frequency (tiebreak: token ASC — binary collation on both
      // engines) and fits ordinary least squares over the top-1024 ranks
      // IN LOG2 BANDS: x = bitlen(rank), y = bitlen(cnt) — the
      // q_unigram_surprisal integer-log2 idiom — so every OLS sum
      // (Σx, Σy, Σx², Σxy) is exact BIGINT and slope/intercept are each
      // ONE correctly-rounded IEEE division of exact integers (a float
      // ln() OLS would be ulp- and order-dependent across engines). The
      // slope is base-invariant (both axes share the base), so the −1
      // reading carries over; banding coarsens, it does not bias.
      //
      // Scale shape: token stream → ONE map-side-combined (source, tok)
      // count; the window ranks the VOCAB frame (≪ stream) per source;
      // the OLS reduces ≤1024 rows/source. Degenerate slices (<2 rank
      // bands) yield NULL via nullif, not a divide-by-zero.
      "q_zipf_slope",
      (s, d) => {
        val toks = tbl(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        val cnt = toks.groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("source")
          .orderBy(desc("cnt"), asc("tok"))
        cnt.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 1024)
          .select(col("source"),
            length(conv(col("rnk"), 10, 2)).cast("long").as("x"),
            length(conv(col("cnt"), 10, 2)).cast("long").as("y"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x*x")).as("sxx"), sum(expr("x*y")).as("sxy"))
          .select(col("source"), col("n").cast("long").as("n_ranks"),
            (expr("cast(n*sxy - sx*sy as double)")
              / expr("cast(nullif(n*sxx - sx*sx, 0) as double)"))
              .as("zipf_slope"),
            (expr("cast(sy*sxx - sx*sxy as double)")
              / expr("cast(nullif(n*sxx - sx*sx, 0) as double)"))
              .as("zipf_intercept"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""WITH t AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |c AS (SELECT source, tok, COUNT(*) AS cnt
             |      FROM t GROUP BY source, tok),
             |r AS (SELECT source, tok, cnt,
             |        ROW_NUMBER() OVER (PARTITION BY source
             |          ORDER BY cnt DESC, tok ASC) AS rnk
             |      FROM c),
             |b AS (SELECT source,
             |        CAST(length(format('{:b}', rnk)) AS BIGINT) AS x,
             |        CAST(length(format('{:b}', cnt)) AS BIGINT) AS y
             |      FROM r WHERE rnk <= 1024),
             |a AS (SELECT source, COUNT(*) AS n,
             |        CAST(SUM(x) AS BIGINT) AS sx,
             |        CAST(SUM(y) AS BIGINT) AS sy,
             |        CAST(SUM(x*x) AS BIGINT) AS sxx,
             |        CAST(SUM(x*y) AS BIGINT) AS sxy
             |      FROM b GROUP BY source)
             |SELECT source, CAST(n AS BIGINT) AS n_ranks,
             |  CAST(n*sxy - sx*sy AS DOUBLE)
             |    / CAST(NULLIF(n*sxx - sx*sx, 0) AS DOUBLE) AS zipf_slope,
             |  CAST(sy*sxx - sx*sxy AS DOUBLE)
             |    / CAST(NULLIF(n*sxx - sx*sx, 0) AS DOUBLE) AS zipf_intercept
             |FROM a ORDER BY source ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // One BPE-training iteration: the top merge candidates — adjacent
      // character pairs counted across the corpus, weighted by word
      // frequency. This is the inner loop of byte-pair-encoding tokenizer
      // training (Sennrich'16): the argmax pair becomes the next merge
      // rule. Deterministic tiebreak (cnt DESC, pair ASC) makes the whole
      // top-50 table hash-stable, not just the argmax.
      //
      // Scale shape — the reason BPE training is feasible at 100 TB: the
      // token stream collapses to the VOCAB frame (one map-side-combined
      // wordcount shuffle) FIRST, and the char-pair explode runs over
      // unique words weighted by freq — pair generation cost is
      // O(Σ|unique word|), independent of corpus token count. The pair
      // frame is ≤ alphabet² and the final top-50 is a TakeOrdered (no
      // global sort materialization).
      "q_bpe_merges",
      (s, d) => {
        val vocab = tbl(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("freq"))
        vocab
          .select(col("freq"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(sum("freq").cast("long").as("cnt"))
          .orderBy(desc("cnt"), asc("pair"))
          .limit(50)
      },
      Some("""WITH t AS (
             |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
             |v AS (SELECT w, COUNT(*) AS freq FROM t
             |      WHERE len(w) >= 2 GROUP BY w),
             |i AS (SELECT w, freq,
             |        unnest(generate_series(1, len(w) - 1)) AS i
             |      FROM v),
             |p AS (SELECT substring(w, i, 2) AS pair, freq FROM i)
             |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
             |FROM p GROUP BY pair
             |ORDER BY cnt DESC, pair ASC LIMIT 50""".stripMargin)
    ),
    Q(
      // Full BPE tokenizer training (graft.ops.Bpe): 10 merge rules
      // learned by the iterative loop whose single step q_bpe_merges
      // exposes — per round: pair-count the vocab frame, pull the top-k
      // candidate rows to the driver ONCE, accept the provably
      // order-equivalent ranking prefix (trainMergesBatched — driver
      // round-trips scale as nMerges/batch, not nMerges; BpeSpec pins
      // bit-identity with the one-argmax reference loop), apply the
      // merges as codegen'd aggregate() folds over each word's symbol
      // array. The merge table IS the tokenizer artifact; deterministic
      // (cnt DESC, a ASC, b ASC) tiebreak makes it a pure function of
      // the corpus, so BpeSpec pins it against hand-computed merges
      // (Sennrich'16 corpus) and the driver records rows-only
      // (iterative driver loop — not single-statement SQL-expressible).
      "q_bpe_train",
      (s, d) => {
        import s.implicits._
        Bpe.trainMergesBatched(tbl(s, d, "documents"), nMerges = 10)
          .map { case (i, a, b, c) => (i.toLong, a, b, a + b, c) }
          .toDF("merge_idx", "a", "b", "merged", "cnt")
          .orderBy(asc_nulls_first("merge_idx"))
      },
      None
    ),
    Q(
      // OOV-rate census at a fixed vocab budget — see the header inside
      // the lambda for the full rationale.
      "q_vocab_coverage",
      (s, d) => {
        // OOV-rate census at a fixed vocab budget (top-1024 words per
        // source): what fraction of the token stream a 1024-entry
        // word-vocab fails to cover — the vocab-sizing / UNK-rate
        // question a tokenizer budget decision needs, and the companion
        // to q_zipf_slope over the SAME ranked vocab frame (a steep Zipf
        // slope predicts low OOV at small budgets; this measures it).
        // Same scale shape: one map-side-combined (source, tok) count,
        // the window ranks the vocab frame only, exact integer sums +
        // ONE final division.
        val cnt = tbl(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("source").orderBy(desc("cnt"), asc("tok"))
        cnt.withColumn("rnk", row_number().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_vocab"),
            sum("cnt").cast("long").as("total_tokens"),
            sum(when(col("rnk") <= 1024, col("cnt")).otherwise(lit(0L)))
              .cast("long").as("covered_tokens"))
          .select(col("source"), col("n_vocab"), col("total_tokens"),
            col("covered_tokens"),
            ((col("total_tokens") - col("covered_tokens")).cast("double")
              / col("total_tokens").cast("double")).as("oov_rate"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""WITH t AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |c AS (SELECT source, tok, COUNT(*) AS cnt
             |      FROM t GROUP BY source, tok),
             |r AS (SELECT source, cnt,
             |        ROW_NUMBER() OVER (PARTITION BY source
             |          ORDER BY cnt DESC, tok ASC) AS rnk
             |      FROM c),
             |a AS (SELECT source, COUNT(*) AS n_vocab,
             |        CAST(SUM(cnt) AS BIGINT) AS total_tokens,
             |        CAST(SUM(CASE WHEN rnk <= 1024 THEN cnt ELSE 0 END)
             |          AS BIGINT) AS covered_tokens
             |      FROM r GROUP BY source)
             |SELECT source, n_vocab, total_tokens, covered_tokens,
             |  CAST(total_tokens - covered_tokens AS DOUBLE)
             |    / CAST(total_tokens AS DOUBLE) AS oov_rate
             |FROM a ORDER BY source ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // The apply half of the tokenizer loop: encode the corpus under the
      // 10 trained merge rules and report per-source fertility
      // (tokens-per-word under the TRAINED tokenizer — q_token_fertility
      // is the same census under a fixed regex tokenizer; comparing the
      // two is the "is training this tokenizer worth it per slice"
      // question). Scale shape: the only corpus-sized shuffle is the
      // (source, word) count; the 10 chained merge folds run as codegen
      // projections over that bounded frame (no UDF, no shuffle, no
      // re-tokenize of the stream). BpeSpec pins the census against the
      // driver-side scala encoder word-by-word.
      "q_bpe_encode",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val rules = Bpe.trainMergesBatched(docs, nMerges = 10)
          .map(r => (r._2, r._3))
        val sw = docs
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 1)
          .groupBy("source", "w").agg(count(lit(1)).as("n"))
          .withColumn("syms", Bpe.initialSyms(col("w")))
        Bpe.encodeVocab(sw, rules)
          .groupBy("source")
          .agg(sum(col("n")).cast("long").as("n_words"),
            sum(size(col("syms")).cast("long") * col("n")).cast("long")
              .as("n_tokens"))
          .select(col("source"), col("n_words"), col("n_tokens"),
            (col("n_tokens").cast("double") / col("n_words").cast("double"))
              .as("bpe_fertility"))
          .orderBy(asc_nulls_first("source"))
      },
      None
    )
  )

  /** The five deterministic markup variants wrapped around each document
    * (variant = doc_id % 5). Together they exercise every edge the strip
    * grammar claims to handle: [0] quoted `>` in attributes + named/
    * decimal/hex entities; [1] DOCTYPE + a comment containing bare `>` +
    * quoted `>` inside a script tag's attribute + adjacent script/style
    * blocks; [2] self-closing tags + two ADJACENT script blocks; [3] a
    * style block + a trailing UNCLOSED `<p` (stays in the text — not a tag
    * by the grammar); [4] an entity inside a tag body (goes with the tag).
    * No newlines: a `\\n` in a Spark lit() is a real newline but a literal
    * backslash-n in a DuckDB '' string — newline-in-tag is pinned
    * Scala-side in TextEdgeSpec instead.
    */
  // lazy: referenced while `all` (declared above) initializes
  private[ops] lazy val HtmlPrefixes: Seq[String] = Seq(
    """<html> <body class="a>b" data-x='1>2'> <h1 title="x>y">T &amp; &#65; &#x41;</h1> <p>""",
    """<!DOCTYPE html><!-- nav > breadcrumb --><body><p class="wide">""",
    """<body><br/><img src='pix>els.png'/><p>""",
    """<html><body><h1>Doc &amp; title</h1><p>""",
    """<body &bogus; ><p id='main'>""")
  private[ops] lazy val HtmlSuffixes: Seq[String] = Seq(
    """</p><script>var a = 1 < 2;</script></body></html>""",
    """</p><script src="t.js>x">track()</script><style>p { color: red }</style></body>""",
    """</p><script>a()</script><script>b()</script></html>""",
    """</p><style type="text/css">.x { }</style></body><p""",
    """</p><!-- trailing > comment --></body></html>""")

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"
  private def sqlStrList(xs: Seq[String]): String =
    xs.map(sqlLit).mkString("[", ", ", "]")

  /** Render the stripMarkup chain as DuckDB SQL over `col` — the SAME
    * pattern constants, so the two engines cannot drift.
    */
  private def stripSqlExpr(col: String): String =
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"$col, ${sqlLit(CommentPattern)}, ' ', 'g'), " +
      s"${sqlLit(ScriptPattern)}, ' ', 'g'), " +
      s"${sqlLit(StylePattern)}, ' ', 'g'), " +
      s"${sqlLit(TagPattern)}, ' ', 'g'), " +
      s"${sqlLit(EntityPattern)}, ' ', 'g'), " +
      "'\\s+', ' ', 'g'))"
}
