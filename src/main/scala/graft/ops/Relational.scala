package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scan, filter and the full join family (SURVEY.md §2-B rows 1–11).
  *
  * Scale notes (100 TB design point):
  *   - scans project/filter declaratively so Catalyst pushes both into the
  *     Parquet reader (check `PushedFilters`/`ReadSchema` in explain);
  *   - equi-joins shuffle on their keys and are AQE-replannable; small
  *     dimensions are broadcast explicitly;
  *   - the band (range) join is rewritten as bucket-expansion equi-join +
  *     residual filter — never a nested-loop cross product;
  *   - the as-of join is join + per-key window; at cluster scale both
  *     sides hash-partition on the user key so the window is local.
  */
object Relational {

  val all: Seq[Q] = Seq(
    Q(
      "q_scan_project",
      (s, d) => {
        // NB (l_orderkey, l_linenumber) is NOT unique in the fixture — the
        // total order must include every output column so that any rows the
        // engines may permute are value-identical.
        tbl(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
          .orderBy(asc_nulls_first("l_orderkey"), asc_nulls_first("l_linenumber"),
            asc_nulls_first("l_quantity"), asc_nulls_first("l_extendedprice"),
            asc_nulls_first("l_returnflag"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
             |FROM lineitem
             |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
             |  l_quantity ASC NULLS FIRST, l_extendedprice ASC NULLS FIRST,
             |  l_returnflag ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_filter_pred",
      (s, d) => {
        tbl(s, d, "lineitem")
          .filter(
            col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
              col("l_discount").between(0.03, 0.07) &&
              col("l_returnflag").isin("A", "R"))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
          .orderBy(asc_nulls_first("l_orderkey"), asc_nulls_first("l_linenumber"),
            asc_nulls_first("l_quantity"), asc_nulls_first("l_discount"),
            asc_nulls_first("l_returnflag"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_returnflag IN ('A','R')
             |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
             |  l_quantity ASC NULLS FIRST, l_discount ASC NULLS FIRST,
             |  l_returnflag ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_inner_join",
      (s, d) => {
        tbl(s, d, "orders")
          .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"), "inner")
          .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
          .transform(df => sortOnce(df)(asc_nulls_first("o_orderkey")))
      },
      Some("""SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_left_join",
      (s, d) => {
        tbl(s, d, "customer")
          .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(
            count(col("o_orderkey")).as("order_cnt"),
            coalesce(asDec(sum(dec(col("o_totalprice")))), asDec(lit(0))).as("total_spent"))
          .transform(df => sortOnce(df)(asc_nulls_first("c_custkey")))
      },
      Some("""SELECT c_custkey, c_name, COUNT(o_orderkey) AS order_cnt,
             |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
             |           CAST(0 AS DOUBLE)) AS total_spent
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey, c_name
             |ORDER BY c_custkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_full_join",
      (s, d) => {
        val e = tbl(s, d, "events").select("event_id", "user_id")
        val c = tbl(s, d, "customer").select("c_custkey", "c_name")
        e.join(c, col("user_id") === col("c_custkey"), "full")
          .select("event_id", "user_id", "c_custkey", "c_name")
          .transform(df => sortOnce(df)(asc_nulls_first("event_id"), asc_nulls_first("c_custkey")))
      },
      Some("""SELECT event_id, user_id, c_custkey, c_name
             |FROM events FULL JOIN customer ON user_id = c_custkey
             |ORDER BY event_id ASC NULLS FIRST, c_custkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_semi_join",
      (s, d) => {
        tbl(s, d, "customer")
          .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_mktsegment")
          .transform(df => sortOnce(df)(asc_nulls_first("c_custkey")))
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Customers with NO high-value order. The right side is FILTERED
      // (o_totalprice > 450000) so the anti-join is provably non-vacuous
      // on the driver fixtures at every verify scale (57 rows at sf0.001,
      // 538 at sf0.01 — every synthetic customer has SOME order, so the
      // unfiltered form returned 0 rows and a sign-flipped predicate
      // would have hash-matched on empty; NonVacuousSpec plants the
      // synthetic non-empty case too). Filter pushes below the anti-join
      // build side — the shuffled right frame shrinks ~10×.
      "q_anti_join",
      (s, d) => {
        tbl(s, d, "customer")
          .join(tbl(s, d, "orders").filter(col("o_totalprice") > 450000.0),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
          .transform(df => sortOnce(df)(asc_nulls_first("c_custkey")))
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
             |ORDER BY c_custkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_broadcast_join",
      (s, d) => {
        // part and supplier are bounded dimensions: broadcast both so the
        // big fact side never shuffles.
        tbl(s, d, "lineitem")
          .join(broadcast(tbl(s, d, "part").filter(col("p_size") < 10)),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(tbl(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .select("l_orderkey", "l_linenumber", "p_name", "s_name")
          .transform(df => sortOnce(df)(asc_nulls_first("l_orderkey"), asc_nulls_first("l_linenumber"),
            asc_nulls_first("p_name"), asc_nulls_first("s_name")))
      },
      Some("""SELECT l_orderkey, l_linenumber, p_name, s_name
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey AND p_size < 10
             |JOIN supplier ON l_suppkey = s_suppkey
             |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
             |  p_name ASC NULLS FIRST, s_name ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_range_join",
      (s, d) => {
        // Band join l_quantity BETWEEN p_size-2 AND p_size+2 feeding a
        // grouped count/sum. Two scale techniques compose:
        //   1. bucket-expansion EQUI-join (each part expands to the integer
        //      buckets its band covers; fact joins on floor(quantity)) with
        //      the exact band predicate as residual — never a
        //      BroadcastNestedLoopJoin;
        //   2. factorized aggregation: COUNT/SUM are distributive, so both
        //      sides pre-aggregate on their band keys BEFORE the join and
        //      the pair weights multiply — the join carries (distinct qty ×
        //      matching sizes) rows instead of every matched pair (~300×
        //      fewer intermediates at sf0.1; the gap widens with scale).
        val li = tbl(s, d, "lineitem")
          .filter(col("l_quantity") <= 3)
          .groupBy("l_quantity")
          .agg(count(lit(1)).as("ln"))
          .withColumn("qk", floor(col("l_quantity")).cast("int"))
        val pt = tbl(s, d, "part")
          .filter(col("p_size") <= 5)
          .groupBy("p_size")
          .agg(count(lit(1)).as("pn"))
          .withColumn("qk", explode(sequence(col("p_size") - 3, col("p_size") + 2)))
        li.join(pt, "qk")
          .filter(col("l_quantity") >= col("p_size") - 2 && col("l_quantity") <= col("p_size") + 2)
          .groupBy("p_size")
          .agg(
            sum(col("ln") * col("pn")).cast("long").as("match_cnt"),
            asDec(sum(dec(col("l_quantity")) * col("ln") * col("pn"))).as("sum_qty"))
          .orderBy(asc_nulls_first("p_size"))
      },
      Some("""SELECT p_size, COUNT(*) AS match_cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem, part
             |WHERE l_quantity <= 3 AND p_size <= 5
             |  AND l_quantity BETWEEN p_size - 2 AND p_size + 2
             |GROUP BY p_size
             |ORDER BY p_size ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_cross_join",
      (s, d) => {
        tbl(s, d, "region")
          .crossJoin(tbl(s, d, "nation"))
          .select("r_name", "n_name")
          .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
      },
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
             |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // TPC-H-Q3-style three-way join chain: filtered dimension →
      // fact → detail, aggregated. All equi-joins shuffle on their keys;
      // the segment filter prunes before the first join.
      "q_threeway_join",
      (s, d) => {
        tbl(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"))
          .join(tbl(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey", "o_orderdate")
          .agg(
            asDec(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
              .as("revenue"),
            count(lit(1)).as("line_cnt"))
          .orderBy(asc_nulls_first("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderdate,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             |         * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS line_cnt
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderkey, o_orderdate
             |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "q_asof_join",
      (s, d) => {
        // As-of: each event takes the latest order of the same user at or
        // before the event timestamp. Implemented as the sorted-merge scale
        // path: union both sides tagged, one window pass per user carrying
        // the last-seen order forward (last_value ignoreNulls). Cost is
        // O((|e|+|o|) log) with state = one order per row — a theta-join +
        // per-event rank explodes as |events per user| × |orders per user|
        // and dies on active users at 100 TB.
        // Tie rules encoded in the sort: at equal time, orders sort before
        // events (inclusive <=) and higher o_orderkey last (latest-date →
        // highest-key order wins), matching the oracle's rank-1 pick.
        val e = tbl(s, d, "events")
          .select(col("user_id"), col("ts").as("t"), lit(1).as("kind"),
            col("event_id"), lit(null).cast("long").as("o_orderkey"),
            lit(null).cast("timestamp").as("o_orderdate"))
        val o = tbl(s, d, "orders")
          // a NULL-dated order has no position on the as-of axis: the
          // oracle's o_orderdate <= e.ts never matches it, but NULLS FIRST
          // would slot it before every event here — drop it explicitly so
          // both engines agree even on dirty data
          .filter(col("o_orderdate").isNotNull)
          .select(col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
            lit(0).as("kind"), lit(null).cast("long").as("event_id"),
            col("o_orderkey"), col("o_orderdate"))
        val w = Window.partitionBy("user_id")
          .orderBy(asc_nulls_first("t"), asc_nulls_first("kind"),
            asc_nulls_first("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.unionByName(o)
          .withColumn("asof_orderkey",
            last(col("o_orderkey"), ignoreNulls = true).over(w))
          .withColumn("asof_orderdate",
            last(col("o_orderdate"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("event_id"), col("user_id"), col("asof_orderkey"),
            col("asof_orderdate"))
          .transform(df => sortOnce(df)(asc_nulls_first("event_id")))
      },
      Some("""SELECT event_id, user_id, asof_orderkey, asof_orderdate FROM (
             |  SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey,
             |         o.o_orderdate AS asof_orderdate,
             |         row_number() OVER (PARTITION BY e.event_id
             |           ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
             |  FROM events e LEFT JOIN orders o
             |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
             |) WHERE rn = 1
             |ORDER BY event_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // FORWARD as-of: each event takes the EARLIEST order of the
      // same user STRICTLY AFTER the event timestamp — the attribution
      // question ("which order did this touchpoint lead to?"), the mirror
      // of q_asof_join's "latest state at event time". Same sorted-merge
      // scale path, walked in REVERSE time order: one window pass per
      // user carries the earliest-seen future order backward; cost stays
      // O((|e|+|o|) log), state one order per row — no theta-join blowup.
      // Tie rules in the sort: at equal time the event precedes the order
      // (strict >, an equal-time order is NOT visible), and among orders
      // at the same date the LOWEST key wins (processed last in the
      // descending walk, so it overwrites) — matching the oracle's
      // rank-1 (date ASC, key ASC) pick.
      "q_asof_forward",
      (s, d) => {
        val e = tbl(s, d, "events")
          .select(col("user_id"), col("ts").as("t"), lit(1).as("kind"),
            col("event_id"), lit(null).cast("long").as("o_orderkey"),
            lit(null).cast("timestamp").as("o_orderdate"))
        val o = tbl(s, d, "orders")
          .filter(col("o_orderdate").isNotNull) // same dirty-data rule as q_asof_join
          .select(col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
            lit(0).as("kind"), lit(null).cast("long").as("event_id"),
            col("o_orderkey"), col("o_orderdate"))
        val w = Window.partitionBy("user_id")
          .orderBy(desc_nulls_last("t"), desc_nulls_last("kind"),
            desc_nulls_last("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.unionByName(o)
          .withColumn("next_orderkey",
            last(col("o_orderkey"), ignoreNulls = true).over(w))
          .withColumn("next_orderdate",
            last(col("o_orderdate"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("event_id"), col("user_id"), col("next_orderkey"),
            col("next_orderdate"))
          .transform(df => sortOnce(df)(asc_nulls_first("event_id")))
      },
      Some("""SELECT event_id, user_id, next_orderkey, next_orderdate FROM (
             |  SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey,
             |         o.o_orderdate AS next_orderdate,
             |         row_number() OVER (PARTITION BY e.event_id
             |           ORDER BY o.o_orderdate ASC NULLS LAST, o.o_orderkey ASC NULLS LAST) AS rn
             |  FROM events e LEFT JOIN orders o
             |    ON e.user_id = o.o_custkey AND o.o_orderdate > e.ts
             |) WHERE rn = 1
             |ORDER BY event_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // NEAREST as-of: each event takes the order of the same user
      // with the smallest |o_orderdate − ts| — the sensor-fusion /
      // reading-alignment third member of the as-of family (backward =
      // state at event time, forward = attribution target, nearest =
      // best-aligned measurement). Same sorted-merge scale path as its
      // siblings, walked BOTH directions over one union — two window
      // passes per user (one exchange, two sorts), O((|e|+|o|) log),
      // state one order per row, no theta-join blowup — then a pure
      // integer-µs distance compare picks the side.
      // Tie rules (mirrored in the oracle's (|Δ|, side, key) rank): an
      // equidistant pair prefers the BACKWARD order; an equal-time order
      // is backward at distance 0; among same-date orders the LOWEST key
      // wins on both sides (keys sorted so the lowest is processed last
      // in each walk and overwrites).
      "q_asof_nearest",
      (s, d) => {
        val e = tbl(s, d, "events")
          .select(col("user_id"), col("ts").as("t"), lit(1).as("kind"),
            col("event_id"), lit(null).cast("long").as("o_orderkey"),
            lit(null).cast("timestamp").as("o_orderdate"))
        val o = tbl(s, d, "orders")
          .filter(col("o_orderdate").isNotNull) // dirty-data rule, see q_asof_join
          .select(col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
            lit(0).as("kind"), lit(null).cast("long").as("event_id"),
            col("o_orderkey"), col("o_orderdate"))
        val wBack = Window.partitionBy("user_id")
          .orderBy(asc_nulls_first("t"), asc_nulls_first("kind"),
            desc_nulls_last("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wFwd = Window.partitionBy("user_id")
          .orderBy(desc_nulls_last("t"), desc_nulls_last("kind"),
            desc_nulls_last("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val u = e.unionByName(o)
          .withColumn("bk_key", last(col("o_orderkey"), ignoreNulls = true).over(wBack))
          .withColumn("bk_date", last(col("o_orderdate"), ignoreNulls = true).over(wBack))
          .withColumn("fw_key", last(col("o_orderkey"), ignoreNulls = true).over(wFwd))
          .withColumn("fw_date", last(col("o_orderdate"), ignoreNulls = true).over(wFwd))
          .filter(col("kind") === 1)
        val db = unix_micros(col("t")) - unix_micros(col("bk_date"))
        val df = unix_micros(col("fw_date")) - unix_micros(col("t"))
        val useBack = col("bk_date").isNotNull &&
          (col("fw_date").isNull || db <= df)
        u.select(col("event_id"), col("user_id"), col("t"),
            when(useBack, col("bk_key")).otherwise(col("fw_key"))
              .as("near_orderkey"),
            when(useBack, col("bk_date")).otherwise(col("fw_date"))
              .as("near_orderdate"))
          .withColumn("delta_us",
            unix_micros(col("near_orderdate")) - unix_micros(col("t")))
          .drop("t")
          .transform(df2 => sortOnce(df2)(asc_nulls_first("event_id")))
      },
      Some("""SELECT event_id, user_id, near_orderkey, near_orderdate,
             |       delta_us FROM (
             |  SELECT e.event_id, e.user_id, o.o_orderkey AS near_orderkey,
             |         o.o_orderdate AS near_orderdate,
             |         epoch_us(o.o_orderdate) - epoch_us(e.ts) AS delta_us,
             |         row_number() OVER (PARTITION BY e.event_id
             |           ORDER BY abs(epoch_us(o.o_orderdate) - epoch_us(e.ts))
             |                      ASC NULLS LAST,
             |                    (epoch_us(o.o_orderdate) > epoch_us(e.ts))
             |                      ASC NULLS LAST,
             |                    o.o_orderkey ASC NULLS LAST) AS rn
             |  FROM events e LEFT JOIN orders o
             |    ON e.user_id = o.o_custkey AND o.o_orderdate IS NOT NULL
             |) WHERE rn = 1
             |ORDER BY event_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // SCD Type-2 history reconstruction: treat orders as a
      // change-log per customer and rebuild the slowly-changing-dimension
      // row set — each change is valid from its own date until the NEXT
      // change for the same key (lead), the last one open-ended
      // (valid_to NULL, is_current). The catalog-maintenance primitive a
      // training-data warehouse needs for point-in-time-correct dimension
      // joins (pair with q_asof_join for the lookup side).
      //
      // Scale shape: ONE hash shuffle on the dimension key, one window
      // pass — O(n log (n/p)) per partition, no join. Versions are dense
      // per key (row_number), so downstream incremental merges can append
      // version=max+1 without re-reading history. NULL-dated changes have
      // no position on the validity axis — dropped explicitly, same dirty
      // -data rule both engines (see q_asof_join).
      // Ties (same key, same date) get deterministic zero-length validity
      // windows ordered by the o_orderkey tiebreak, so replaying a batch
      // that contains same-day corrections is idempotent and ordered.
      "q_scd2_history",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(asc_nulls_first("o_orderdate"), asc_nulls_first("o_orderkey"))
        tbl(s, d, "orders")
          .filter(col("o_orderdate").isNotNull)
          .withColumn("version", row_number().over(w).cast("int"))
          .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
          .select(col("o_custkey"), col("version"), col("o_orderkey"),
            col("o_orderdate").as("valid_from"), col("valid_to"),
            col("valid_to").isNull.as("is_current"),
            col("o_totalprice").as("price"))
          // bare orderBy, NOT sortOnce: the output is full-table (one row
          // per order) and the child is one cheap window pass over the
          // scan, so re-executing it for the range sampler costs far less
          // than materializing the whole table — measured at sf100's
          // 150 M orders: 28.9 s resample vs 77.8 s checkpointed (the
          // sortOnce doc's "sort-first" exception, generalized: cheap
          // child + output ≈ input ⇒ resample wins)
          .orderBy(asc_nulls_first("o_custkey"), asc_nulls_first("version"))
      },
      Some("""SELECT o_custkey,
             |  CAST(row_number() OVER w AS INT) AS version,
             |  o_orderkey,
             |  o_orderdate AS valid_from,
             |  lead(o_orderdate, 1) OVER w AS valid_to,
             |  (lead(o_orderdate, 1) OVER w IS NULL) AS is_current,
             |  o_totalprice AS price
             |FROM orders
             |WHERE o_orderdate IS NOT NULL
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST)
             |ORDER BY o_custkey ASC NULLS FIRST, version ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // CDC changelog apply / MERGE: the snapshot complement to
      // q_scd2_history (which keeps every version): apply an ordered
      // change log latest-wins per key, honoring delete markers, and emit
      // the CURRENT state only — the upsert primitive every incremental
      // table-maintenance pipeline runs (Delta/Hudi/Iceberg MERGE
      // semantics re-expressed as a plain window). events stands in as
      // the log: key = user_id, ts+event_id orders the log, event_type
      // 'error' is the delete marker. ONE key-hash shuffle feeds both
      // windows (row_number and the per-key change count share the
      // partitioning — Catalyst plans a single exchange); no join. At
      // 100 TB: latest-wins per key is exactly the map-side-combinable
      // shape AQE handles under skew, and the delete filter happens
      // AFTER rn=1 so a delete marker correctly erases the key rather
      // than resurrecting the penultimate version.
      "q_cdc_apply",
      (s, d) => {
        val wOrd = Window.partitionBy("user_id")
          .orderBy(desc_nulls_last("ts"), desc_nulls_last("event_id"))
        val wAll = Window.partitionBy("user_id")
        tbl(s, d, "events")
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("n_changes", count(lit(1)).over(wAll))
          .filter(col("rn") === 1 && col("event_type") =!= "error")
          .select(col("user_id"), col("event_type").as("last_type"),
            col("value").as("last_value"), col("ts").as("last_ts"),
            col("n_changes"))
          .transform(df => sortOnce(df)(asc_nulls_first("user_id")))
      },
      Some("""SELECT user_id, event_type AS last_type, value AS last_value,
             |       ts AS last_ts,
             |       COUNT(*) OVER (PARTITION BY user_id) AS n_changes
             |FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) = 1
             |  AND event_type <> 'error'
             |ORDER BY user_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Correlated-EXISTS aggregate (the TPC-H Q4 shape): orders with at
      // least one LATE-shipped line (l_shipdate after o_orderdate),
      // counted per priority. The EXISTS compiles to a LEFT SEMI join
      // whose condition carries the equi key (orderkey) PLUS the
      // cross-side range predicate — so it runs as a keyed hash/merge
      // semi join with a residual filter, never a nested loop, and the
      // probe side short-circuits on first match instead of counting
      // every late line (the join-then-distinct formulation would carry
      // the full match multiplicity through the shuffle). The rollup then
      // runs on the bounded priority frame.
      "q_exists_agg",
      (s, d) => {
        tbl(s, d, "orders")
          .join(tbl(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("late_orders"))
          .orderBy(asc_nulls_first("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS late_orders
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Salted equi-join (Scale.saltedJoin) — the manual skew path for a
      // shuffle join whose fact side has a dominant key. AQE's skew-join
      // split only divides oversized PARTITIONS; when one KEY alone
      // exceeds an executor (the 100 TB web-crawl case: one host = 30% of
      // events), the fix is structural: fact rows get salt =
      // hash(full row id) % 8, the dim side replicates each row to all 8
      // salts, and the join key becomes (key, salt) — the hot key fans
      // out into 8 independent reducers. Result-identical to the plain
      // join by construction, so the key holds a full DuckDB hash oracle
      // computed the plain way (the salt must change the SHAPE, never
      // the answer; ScaleSpec additionally pins the ≥-salt-spread of a
      // planted 50%-hot key). Decimal-exact sum, one map-side-combined
      // final agg on the bounded priority frame.
      "q_salted_join",
      (s, d) => {
        val fact = tbl(s, d, "lineitem")
          .select(col("l_orderkey"), dec(col("l_quantity")).as("qty_dec"),
            col("l_linenumber"), col("l_suppkey"))
        val dim = tbl(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        Scale.saltedJoin(fact, dim, "l_orderkey", nSalts = 8,
            saltCols = Seq("l_orderkey", "l_linenumber", "l_suppkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            asDec(sum(col("qty_dec"))).as("sum_qty"))
          .orderBy(asc_nulls_first("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority ASC NULLS FIRST""".stripMargin)
    )
  )
}
