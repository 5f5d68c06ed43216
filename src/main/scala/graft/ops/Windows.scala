package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function family + global sort/limit (SURVEY.md §2-B rows 18–22).
  *
  * Scale notes: every window partitions by a real key (nation / customer /
  * user) so state is distributed; no ORDER BY-without-PARTITION BY window
  * ever sees raw rows (a global window would serialize 100 TB through one
  * task) — q_decile_assign's global ranks come from windows over the
  * BOUNDED distinct-value frame plus a value-keyed in-value rank.
  * q_sort_limit compiles to TakeOrderedAndProject — per-partition top-N
  * then a K-row driver merge, never a full global sort.
  *
  * Determinism: row_number windows always carry a unique tiebreak key;
  * rank/dense_rank are tie-stable by definition. Computed ranks are cast
  * BIGINT on both engines (Spark INT vs DuckDB BIGINT defaults differ).
  */
object Windows {

  val all: Seq[Q] = Seq(
    Q(
      "q_window_rank",
      (s, d) => {
        val wTie = Window.partitionBy("c_nationkey")
          .orderBy(desc_nulls_last("c_acctbal"), asc_nulls_first("c_custkey"))
        val wVal = Window.partitionBy("c_nationkey").orderBy(desc_nulls_last("c_acctbal"))
        tbl(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
            row_number().over(wTie).cast("long").as("rn"),
            rank().over(wVal).cast("long").as("rnk"),
            dense_rank().over(wVal).cast("long").as("drnk"))
          .transform(df => sortOnce(df)(asc_nulls_first("c_nationkey"), asc_nulls_first("rn")))
      },
      Some("""SELECT c_custkey, c_nationkey, c_acctbal,
             |  CAST(row_number() OVER (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST) AS BIGINT) AS rn,
             |  CAST(rank() OVER (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC NULLS LAST) AS BIGINT) AS rnk,
             |  CAST(dense_rank() OVER (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC NULLS LAST) AS BIGINT) AS drnk
             |FROM customer
             |ORDER BY c_nationkey ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Distribution/navigation window functions: ntile buckets,
      // percent_rank/cume_dist (exact small-integer divisions —
      // bit-identical across engines), first_value and nth_value over a
      // fully-tiebroken frame.
      "q_window_dist",
      (s, d) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(desc_nulls_last("c_acctbal"), asc_nulls_first("c_custkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tbl(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            first_value(col("c_custkey")).over(wf).as("richest_key"),
            nth_value(col("c_custkey"), 2).over(wf).as("second_key"))
          .transform(df => sortOnce(df)(asc_nulls_first("c_nationkey"), asc_nulls_first("c_custkey")))
      },
      Some("""SELECT c_custkey, c_nationkey,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  percent_rank() OVER w AS pct_rank,
             |  cume_dist() OVER w AS cume,
             |  first_value(c_custkey) OVER wf AS richest_key,
             |  nth_value(c_custkey, 2) OVER wf AS second_key
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST),
             |  wf AS (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY c_nationkey ASC NULLS FIRST, c_custkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(asc_nulls_first("o_orderdate"), asc_nulls_first("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tbl(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            asDec(sum(dec(col("o_totalprice"))).over(w)).as("running_total"))
          .transform(df => sortOnce(df)(
            asc_nulls_first("o_custkey"), asc_nulls_first("o_orderkey")))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
             |FROM orders
             |ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_window_leadlag",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(asc_nulls_first("ts"), asc_nulls_first("event_id"))
        tbl(s, d, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            lag(col("value"), 1).over(w).as("prev_value"),
            lead(col("value"), 1).over(w).as("next_value"))
          .transform(df => sortOnce(df)(asc_nulls_first("user_id"), asc_nulls_first("event_id")))
      },
      Some("""SELECT event_id, user_id, value,
             |  lag(value, 1) OVER w AS prev_value,
             |  lead(value, 1) OVER w AS next_value
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
             |ORDER BY user_id ASC NULLS FIRST, event_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(desc_nulls_last("o_totalprice"), asc_nulls_first("o_orderkey"))
        tbl(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rn"))
          .filter(col("rn") <= 3)
          .transform(df => sortOnce(df)(asc_nulls_first("o_custkey"), asc_nulls_first("rn")))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS BIGINT) AS rn
             |  FROM orders
             |) WHERE rn <= 3
             |ORDER BY o_custkey ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // RANGE frame over event-time: per customer, the rolling 90-day
      // order total. Value-based frame (RANGE, not ROWS) → deterministic
      // under orderdate ties without a tiebreak key; ordering key is epoch
      // seconds so both engines frame over the same integer axis.
      "q_window_range_frame",
      (s, d) => {
        // o_orderdate is TIMESTAMP_NTZ: no direct →BIGINT cast; hop through
        // TIMESTAMP (identity under the UTC session TZ, matching DuckDB's
        // epoch() on naive timestamps)
        val w = Window.partitionBy("o_custkey")
          // explicit null ordering per the package determinism rule (Spark
          // defaults NULLS FIRST, DuckDB NULLS LAST — RANGE peer semantics
          // mask the disagreement today, but never rely on a default)
          .orderBy(col("o_orderdate").cast("timestamp").cast("long").asc_nulls_first)
          .rangeBetween(-90L * 86400L, 0L)
        tbl(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            asDec(sum(dec(col("o_totalprice"))).over(w)).as("total_90d"))
          .transform(df => sortOnce(df)(
            asc_nulls_first("o_custkey"), asc_nulls_first("o_orderkey")))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey
             |    ORDER BY epoch(o_orderdate) ASC NULLS FIRST
             |    RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS total_90d
             |FROM orders
             |ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_sort_limit",
      (s, d) => {
        tbl(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy(desc_nulls_last("l_extendedprice"),
            asc_nulls_first("l_orderkey"), asc_nulls_first("l_linenumber"))
          .limit(25)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |ORDER BY l_extendedprice DESC NULLS LAST,
             |  l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST
             |LIMIT 25""".stripMargin)
    ),
    Q(
      // Same answer as q_topk_per_group, different physical plan — the
      // 100 TB top-k path. The window form shuffles EVERY order row to its
      // group's reducer and sorts the whole group before discarding all
      // but 3 rows; this form folds with the bounded BottomKPairs
      // aggregate over the negated price (price DESC, key ASC), so each
      // map task reduces its slice of a group to ≤3 pairs BEFORE the
      // exchange — the shuffle carries ≤ 3·(#map partitions) rows per
      // customer instead of the customer's full order count. Plan-audited
      // (TopKSpec): two ObjectHashAggregate phases, zero Window operators.
      // The oracle is the window SQL — same rows prove the rewrite is
      // semantics-preserving.
      "q_topk_agg",
      (s, d) => {
        tbl(s, d, "orders")
          .groupBy("o_custkey")
          .agg(graft.expr.BottomKPairs(-col("o_totalprice"), col("o_orderkey"), 3)
            .as("top"))
          .select(col("o_custkey"), posexplode(col("top")))
          .select(col("o_custkey"),
            col("col.id").as("o_orderkey"),
            (-col("col.qd")).as("o_totalprice"),
            (col("pos") + 1).cast("long").as("rn"))
          .transform(df => sortOnce(df)(asc_nulls_first("o_custkey"), asc_nulls_first("rn")))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS BIGINT) AS rn
             |  FROM orders
             |) WHERE rn <= 3
             |ORDER BY o_custkey ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Global decile assignment WITHOUT a global window — the 100 TB
      // quantile-bucketing path. ntile(10) OVER (ORDER BY ...) would
      // serialize the corpus through ONE task; here the global rank
      // decomposes exactly: a distinct-VALUE frame (bounded by value
      // cardinality, not row count) carries cumulative counts + the total
      // via windows over that small frame, each row's in-value rank comes
      // from a window PARTITIONED by value (keyed, distributed), and
      // decile = ((start + rn − 1)·10) div N — pure integer, identical on
      // both engines (the oracle mirrors the arithmetic rather than
      // ntile, whose remainder-distribution rule differs from the exact
      // rank formula). Same two-level decomposition as
      // Pipeline.shardAssign; ties broken by doc_id on both engines.
      "q_decile_assign",
      (s, d) => {
        val docs = tbl(s, d, "documents").select(col("doc_id"), col("n_chars"))
        val wv = Window.orderBy(asc_nulls_first("n_chars"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        val cum = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
          .withColumn("start", coalesce(sum(col("cnt")).over(wv), lit(0L)))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .select("n_chars", "start", "n")
        val wIn = Window.partitionBy("n_chars").orderBy(asc_nulls_first("doc_id"))
        docs.join(broadcast(cum), Seq("n_chars"))
          .withColumn("rn", row_number().over(wIn).cast("long"))
          .select(col("doc_id"), col("n_chars"),
            expr("((start + rn - 1) * 10) div n").cast("long").as("decile"))
          .orderBy(asc_nulls_first("doc_id"))
      },
      Some("""WITH v AS (
             |  SELECT n_chars, COUNT(*) AS cnt FROM documents
             |  GROUP BY n_chars),
             |c AS (SELECT n_chars,
             |        CAST(COALESCE(SUM(cnt) OVER (
             |          ORDER BY n_chars ASC NULLS FIRST
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |          AS BIGINT) AS start,
             |        CAST(SUM(cnt) OVER () AS BIGINT) AS n
             |      FROM v),
             |r AS (SELECT doc_id, d.n_chars,
             |        CAST(row_number() OVER (PARTITION BY d.n_chars
             |          ORDER BY doc_id ASC NULLS FIRST) AS BIGINT) AS rn,
             |        start, n
             |      FROM documents d JOIN c USING (n_chars))
             |SELECT doc_id, n_chars,
             |  CAST(((start + rn - 1) * 10) // n AS BIGINT) AS decile
             |FROM r ORDER BY doc_id ASC NULLS FIRST""".stripMargin)
    )
  )
}
