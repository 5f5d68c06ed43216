package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation family: hash agg, distinct agg, HAVING, rollup/cube/
  * grouping sets (SURVEY.md §2-B rows 12–17).
  *
  * Scale notes: all of these are partial-aggregate (map-side combine) +
  * final-aggregate plans in Spark — the shuffle carries only group keys ×
  * partial states, never raw rows. Grouping keys here are low-cardinality,
  * so the shuffled state is tiny regardless of input size. COUNT(DISTINCT)
  * expands to a two-phase aggregate keyed on (group, value) — still
  * shuffle-bounded by distinct combinations.
  *
  * Determinism: metrics are decimal-cast *before* SUM (exact arithmetic,
  * summation order irrelevant); averages are emitted as
  * exact-decimal-sum → double ÷ count (one correctly-rounded IEEE division,
  * bit-identical on both engines).
  */
object Aggregates {

  val all: Seq[Q] = Seq(
    Q(
      "q_agg_group",
      (s, d) => {
        tbl(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            asDec(sum(dec(col("l_quantity")))).as("sum_qty"),
            asDec(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
            (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
            (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_agg_distinct",
      (s, d) => {
        tbl(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_suppkey")).as("supp_cnt"),
            countDistinct(col("l_partkey")).as("part_cnt"),
            count(lit(1)).as("row_cnt"))
          .orderBy(asc_nulls_first("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS supp_cnt,
             |  COUNT(DISTINCT l_partkey) AS part_cnt, COUNT(*) AS row_cnt
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_agg_having",
      (s, d) => {
        tbl(s, d, "customer")
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("cust_cnt"),
            asDec(sum(dec(col("c_acctbal")))).as("total_bal"))
          .filter(col("total_bal") > 1000)
          .orderBy(asc_nulls_first("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS cust_cnt,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
             |FROM customer GROUP BY c_mktsegment
             |HAVING CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) > 1000
             |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_rollup",
      (s, d) => {
        tbl(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            grouping(col("l_returnflag")).cast("int").as("grp_flag"),
            grouping(col("l_linestatus")).cast("int").as("grp_status"),
            count(lit(1)).as("cnt"),
            asDec(sum(dec(col("l_quantity")))).as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(GROUPING(l_returnflag) AS INT) AS grp_flag,
             |  CAST(GROUPING(l_linestatus) AS INT) AS grp_status,
             |  COUNT(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_cube",
      (s, d) => {
        tbl(s, d, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(
            count(lit(1)).as("cnt"),
            asDec(sum(dec(col("o_totalprice")))).as("sum_price"))
          .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
      },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_grouping_sets",
      (s, d) => {
        // native Dataset.groupingSets (Spark 4) — no temp-view side effect
        tbl(s, d, "customer")
          .groupingSets(
            Seq(Seq(col("c_mktsegment")), Seq(col("c_nationkey"))),
            col("c_mktsegment"), col("c_nationkey"))
          .agg(count(lit(1)).as("cnt"),
            asDec(sum(dec(col("c_acctbal")))).as("sum_bal"))
          .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("c_nationkey"))
      },
      Some("""SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
             |FROM customer
             |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
             |ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Ordered string aggregation. collect_set is unordered (and
      // collect_list nondeterministic) — array_sort before joining makes
      // the concatenation deterministic, matching the oracle's
      // string_agg(DISTINCT … ORDER BY …).
      "q_string_agg",
      (s, d) => {
        tbl(s, d, "customer")
          .groupBy("c_nationkey")
          .agg(
            array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segs"),
            count(lit(1)).as("cust_cnt"))
          .orderBy(asc_nulls_first("c_nationkey"))
      },
      Some("""SELECT c_nationkey,
             |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
             |  COUNT(*) AS cust_cnt
             |FROM customer GROUP BY c_nationkey
             |ORDER BY c_nationkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Conditional (filtered) aggregation: per-group aggregates over
      // different predicates in one pass — one scan, one shuffle, no
      // self-joins (the FILTER-clause pattern).
      "q_conditional_agg",
      (s, d) => {
        tbl(s, d, "orders")
          .groupBy("o_orderpriority")
          .agg(
            count(when(col("o_orderstatus") === "F", 1)).as("f_cnt"),
            count(when(col("o_orderstatus") === "O", 1)).as("o_cnt"),
            asDec(sum(when(col("o_orderstatus") === "F", dec(col("o_totalprice"))))).as("f_total"),
            count(lit(1)).as("all_cnt"))
          .orderBy(asc_nulls_first("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
             |       FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS f_total,
             |  COUNT(*) AS all_cnt
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Equi-width histogram: bin id = floor((x − lo) / width) — a single
      // correctly-rounded IEEE division + floor, bit-identical across
      // engines; binning + count is one map-side-combined aggregate.
      "q_histogram",
      (s, d) => {
        tbl(s, d, "customer")
          .select(floor((col("c_acctbal") + 1000.0) / 1000.0).cast("int").as("bin"))
          .groupBy("bin")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(asc_nulls_first("bin"))
      },
      Some("""SELECT CAST(FLOOR((c_acctbal + 1000.0) / 1000.0) AS INT) AS bin,
             |  COUNT(*) AS cnt
             |FROM customer GROUP BY 1
             |ORDER BY bin ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Arg-min/arg-max aggregation (min_by/max_by ↔ arg_min/arg_max):
      // single-pass, partial-aggregatable — no self-join, no window.
      // The ordering value (c_custkey) is UNIQUE, so the picked row is
      // deterministic; an arg-max over a tied column would not be.
      "q_minmax_by",
      (s, d) => {
        tbl(s, d, "customer")
          .groupBy("c_mktsegment")
          .agg(
            max_by(col("c_name"), col("c_custkey")).as("latest_name"),
            min_by(col("c_name"), col("c_custkey")).as("earliest_name"),
            max(col("c_custkey")).as("max_key"),
            count(lit(1)).as("cnt"))
          .orderBy(asc_nulls_first("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment,
             |  arg_max(c_name, c_custkey) AS latest_name,
             |  arg_min(c_name, c_custkey) AS earliest_name,
             |  MAX(c_custkey) AS max_key,
             |  COUNT(*) AS cnt
             |FROM customer GROUP BY c_mktsegment
             |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Two-level aggregation (avg of per-entity sums): the inner keyed agg
      // bounds the outer input, so the second shuffle carries one row per
      // customer — a shape distinct from single-level GROUP BY.
      "q_two_level_agg",
      (s, d) => {
        val perCust = tbl(s, d, "orders")
          .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey", "c_mktsegment")
          .agg(sum(dec(col("o_totalprice"))).as("cust_total"))
        perCust
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("cust_cnt"),
            (sum(col("cust_total")).cast("double") / count(lit(1))).as("avg_cust_total"))
          .orderBy(asc_nulls_first("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS cust_cnt,
             |  CAST(SUM(cust_total) AS DOUBLE) / COUNT(*) AS avg_cust_total
             |FROM (
             |  SELECT c_custkey, c_mktsegment,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS cust_total
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY c_custkey, c_mktsegment)
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Percent-of-total report: group shares via a window over the
      // AGGREGATED input (5 segment rows) — the empty-partition window is
      // fine post-agg at any scale; running it over raw rows would
      // serialize the table through one task.
      "q_pct_of_total",
      (s, d) => {
        val w = Window.partitionBy() // global — over the 5-row aggregate only
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val seg = tbl(s, d, "customer")
          .groupBy("c_mktsegment")
          .agg(sum(dec(col("c_acctbal"))).as("seg_bal"))
        seg
          .select(col("c_mktsegment"),
            col("seg_bal").cast("double").as("seg_bal_d"),
            (col("seg_bal").cast("double") /
              sum(col("seg_bal")).over(w).cast("double")).as("share"))
          .withColumnRenamed("seg_bal_d", "seg_bal")
          .orderBy(asc_nulls_first("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment,
             |  CAST(seg_bal AS DOUBLE) AS seg_bal,
             |  CAST(seg_bal AS DOUBLE) / CAST(SUM(seg_bal) OVER () AS DOUBLE) AS share
             |FROM (
             |  SELECT c_mktsegment, SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS seg_bal
             |  FROM customer GROUP BY c_mktsegment)
             |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // The skew-mitigation path under the oracle gate: two-phase salted
      // aggregation (partial on (key, salt), final on key — Scale.saltedSum)
      // must equal a direct GROUP BY. Sums run in exact decimal at BOTH
      // levels, so the two-phase reassociation cannot drift.
      "q_salted_agg",
      (s, d) => {
        val prepared = tbl(s, d, "lineitem")
          .select(col("l_returnflag"),
            dec(col("l_quantity")).as("qty_dec"),
            col("l_orderkey"), col("l_linenumber"))
        Scale.saltedSum(prepared, "l_returnflag", "qty_dec", nSalts = 8,
            saltCols = Seq("l_orderkey", "l_linenumber"))
          .select(col("l_returnflag"),
            col("sum_qty_dec").cast("double").as("sum_qty"), col("cnt"))
          .orderBy(asc_nulls_first("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Heavy hitters per group via sketch-then-verify: pass 1 runs
      // a Misra–Gries summary (graft.functions.MisraGries — O(k) state,
      // map-side-combined, only ≤ k candidates per lang cross the shuffle)
      // whose superset guarantee makes it a sound PRUNER for "tokens with
      // count > total/(k+1)"; pass 2 re-counts JUST those candidates
      // exactly (left-semi against the broadcast candidate set) and
      // applies the threshold as exact integer math (cnt·(k+1) > total).
      // Output is therefore EXACT and partition-layout-independent — the
      // sketch affects only the plan's shuffle shape, never the answer —
      // so the key holds a full DuckDB hash oracle (which computes the
      // same set the brute-force way). At 100 TB the win is pass 2's
      // shuffle carrying ~k tokens/group instead of the corpus vocabulary.
      //
      // The token stream is deliberately NOT cached/checkpointed: the
      // exploded frame is ~10× the scan and materializing it evicts the
      // block manager at scale (sf100 measured warm 132 s vs cold 49 s
      // from exactly that — stale checkpoint blocks from earlier runs
      // linger until GC'd). Two streaming tokenize passes — (1) MG sketch
      // with the per-lang total folded into the SAME aggregation, (2) one
      // INNER broadcast join against the candidate frame that prunes the
      // stream AND annotates it with total in a single pass (sound
      // because MG map keys are unique per lang, so the inner join can't
      // duplicate rows; a semi-join + re-join pair would column-prune the
      // two broadcast subtrees differently and run the MG pass twice —
      // measured, no ReusedExchange). This is the shape that holds at
      // 100 TB: nothing materialized, one full agg, one broadcast.
      "q_heavy_hitters",
      (s, d) => {
        val k = 50
        val toks = tbl(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        val cand = toks.groupBy("lang")
          .agg(graft.functions.MisraGries.mgSketch(k)(col("token")).as("sk"),
               count(lit(1)).as("total"))
          .select(col("lang"), explode(map_keys(col("sk"))).as("token"),
                  col("total"))
        toks.join(broadcast(cand), Seq("lang", "token"))
          .groupBy("lang", "token", "total")
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * (k + 1) > col("total"))
          .select(col("lang"), col("token"), col("cnt"), col("total"))
          .transform(df => sortOnce(df)(
            asc_nulls_first("lang"), asc_nulls_first("token")))
      },
      Some("""WITH t AS (
             |  SELECT lang, unnest(string_split(text, ' ')) AS token
             |  FROM documents),
             |n AS (SELECT lang, COUNT(*) AS total FROM t GROUP BY lang),
             |c AS (SELECT lang, token, COUNT(*) AS cnt FROM t GROUP BY lang, token)
             |SELECT c.lang, c.token, c.cnt, n.total
             |FROM c JOIN n USING (lang)
             |WHERE c.cnt * 51 > n.total
             |ORDER BY lang ASC NULLS FIRST, token ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_mode_agg",
      (s, d) => {
        // Deterministic mode: most frequent c_nationkey per market
        // segment, ties broken toward the smallest key. Spark's built-in
        // mode() picks an ARBITRARY tie winner (partition-order-
        // dependent), so the engine keeps the count+rank formulation:
        // counts are one map-side-combined agg on the bounded
        // (segment × nation) key space and the rank window runs on that
        // tiny frame — the raw table never reaches a window.
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(desc_nulls_last("cnt"), asc_nulls_first("c_nationkey"))
        tbl(s, d, "customer")
          .groupBy("c_mktsegment", "c_nationkey")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("c_mktsegment"), col("c_nationkey").as("mode_nation"),
            col("cnt"))
          .orderBy(asc_nulls_first("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, c_nationkey AS mode_nation, cnt FROM (
             |  SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
             |    row_number() OVER (PARTITION BY c_mktsegment
             |      ORDER BY COUNT(*) DESC, c_nationkey ASC) AS rn
             |  FROM customer GROUP BY c_mktsegment, c_nationkey)
             |WHERE rn = 1
             |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Count–min frequency estimates vs exact, for the corpus's 20 most
      // frequent tokens — the constant-state frequency path at 100 TB,
      // where exact per-key counts would shuffle the full token stream
      // (graft.functions.CountMin: 32 KB mergeable sketch, map-side
      // partial agg, ONE row per partition on the exchange; probe =
      // broadcast the finished sketch, read 4 cells per candidate via
      // codegen'd integer SQL that mirrors the build-side hashing
      // bit-for-bit). Output carries est and exact side by side so the
      // one-sided guarantee (est ≥ exact) and the ε·N error ceiling are
      // INSPECTABLE in the result; CountMinSpec pins both bounds plus
      // merge algebra.
      //
      // DuckDB-oracled end to end. Keys use the PORTABLE 60-bit
      // md5-slice hash (not the xxhash64 library default), the finished
      // sketch's 4096 cells persist to parquet (IndexFrames — the same
      // build-then-probe shape as the media hash indexes), and the oracle
      // recomputes cell addressing ((a·(x mod P)+b) mod P mod W, rendered
      // from the SAME CountMin constants) + the 4-cell min + exact counts
      // from the same bytes. Only the JVM sketch AGGREGATE itself is
      // engine-only; its merge algebra stays CountMinSpec-pinned.
      "q_cms_freq_est",
      (s, d) => {
        val toks = tbl(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(length(col("token")) > 0)
          .select(col("token"),
            conv(md5(col("token")).substr(1, 15), 16, 10).cast("long").as("x"))
        val cells = IndexFrames.persist(
          toks.agg(graft.functions.CountMinSketch.agg(col("x")).as("sketch"))
            .select(posexplode(col("sketch")).as(Seq("cell_idx", "cnt")))
            .select(col("cell_idx").cast("long").as("cell_idx"), col("cnt")),
          d, "cms_cells")
        // reassemble the flat cell array from the persisted frame so the
        // probe goes through CountMin.estimateCol — the same codegen'd
        // addressing CountMinSpec pins against the build-side idx()
        val sketch = cells
          .agg(transform(
            array_sort(collect_list(struct(col("cell_idx"), col("cnt")))),
            c => c.getField("cnt")).as("sketch"))
        val top = toks.groupBy("token")
          .agg(count(lit(1)).as("exact_cnt"), first(col("x")).as("x"))
          .orderBy(desc_nulls_last("exact_cnt"), asc_nulls_first("token"))
          .limit(20)
        top.crossJoin(broadcast(sketch))
          .select(col("token"), col("exact_cnt"),
            graft.functions.CountMin.estimateCol(col("sketch"), col("x"))
              .as("est_cnt"))
          .orderBy(desc_nulls_last("exact_cnt"), asc_nulls_first("token"))
      },
      Some(cmsFreqEstSql)
    )
  )

  /** DuckDB replica of q_cms_freq_est's probe side, rendered from the SAME
    * CountMin constants the Spark build uses (the minhashPairsSqlCtes
    * pattern): read the persisted sketch cells, address Depth cells per
    * probe key with the identical integer arithmetic, take the min.
    */
  private def cmsFreqEstSql: String = {
    import graft.functions.CountMin.{A, B, Depth, P, Width}
    val cellLookups = (0 until Depth).map { i =>
      s"""(SELECT cnt FROM cms_cells
         |     WHERE cell_idx = ${i.toLong * Width} +
         |       ((${A(i)} * xm + ${B(i)}) % $P) % $Width)""".stripMargin
    }.mkString(",\n       |    ")
    s"""WITH cms_cells AS (
       |  SELECT cell_idx, cnt
       |  FROM read_parquet('${IndexFrames.oraclePath("cms_cells")}')),
       |cms_toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |cms_tf AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt,
       |    CAST(CONCAT('0x', substr(md5(token), 1, 15)) AS BIGINT) AS x
       |  FROM cms_toks WHERE len(token) > 0 GROUP BY token),
       |cms_top AS (
       |  SELECT token, exact_cnt, ((x % $P) + $P) % $P AS xm
       |  FROM cms_tf
       |  ORDER BY exact_cnt DESC NULLS LAST, token ASC NULLS FIRST
       |  LIMIT 20)
       |SELECT token, exact_cnt,
       |  LEAST(
       |    $cellLookups) AS est_cnt
       |FROM cms_top
       |ORDER BY exact_cnt DESC NULLS LAST, token ASC NULLS FIRST""".stripMargin
  }
}
