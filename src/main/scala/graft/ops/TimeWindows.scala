package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-window family over `events` (SURVEY.md §2-B rows 36–40): tumbling /
  * sliding / session windows (batch-equivalent of the streaming ops — the
  * same `window`/`session_window` expressions run under Structured
  * Streaming with a watermark, see graft.bus) and approximate distinct.
  *
  * Scale notes: time-window group-bys are partial-agg + shuffle on
  * (window, key) — state bounded by windows × keys, not rows.
  * approx_count_distinct is HLL++: constant-size sketch per group, merged
  * associatively (this is THE 100 TB cardinality path; exact distinct is
  * the fallback, not the default).
  */
object TimeWindows {

  val all: Seq[Q] = Seq(
    Q(
      "q_tumbling_window",
      (s, d) => {
        tbl(s, d, "events")
          .groupBy(window(col("ts"), "1 day").as("w"))
          .agg(count(lit(1)).as("cnt"), asDec(sum(dec(col("value")))).as("sum_value"))
          .select(col("w.start").as("day"), col("cnt"), col("sum_value"))
          .orderBy(asc_nulls_first("day"))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1 ORDER BY day ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // 2-day window sliding 1 day per event_type. Each event lands in two
      // overlapping windows; `window()` expands then group-aggregates. The
      // oracle mirrors the expansion explicitly: each event unnests into
      // its two covering window starts (day(ts) and day(ts) − 1 day).
      // ScalaTest additionally checks a hand-rolled expansion.
      "q_sliding_window",
      (s, d) => {
        tbl(s, d, "events")
          .groupBy(window(col("ts"), "2 days", "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("w.start").as("win_start"), col("event_type"), col("cnt"))
          .orderBy(asc_nulls_first("win_start"), asc_nulls_first("event_type"))
      },
      Some("""SELECT win_start, event_type, COUNT(*) AS cnt FROM (
             |  SELECT unnest([
             |      CAST(date_trunc('day', ts) - INTERVAL 1 DAY AS TIMESTAMP),
             |      CAST(date_trunc('day', ts) AS TIMESTAMP)]) AS win_start,
             |    event_type
             |  FROM events)
             |GROUP BY win_start, event_type
             |ORDER BY win_start ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Per-user sessions with a 30-minute inactivity gap. ScalaTest checks
      // against a gaps-and-islands formulation, and the SAME formulation
      // is the DuckDB oracle: session boundaries at exact-µs integers (session_window
      // merges at timestamp precision; ties within one µs are gap-0 and
      // land in one session either way), session start/end floored to
      // seconds as exact integer division, so the whole row is
      // hash-comparable. end = max(ts) + gap, session_window's documented
      // union semantics.
      "q_session_window",
      (s, d) => {
        tbl(s, d, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("user_id"),
            unix_timestamp(col("w.start")).as("session_start_s"),
            unix_timestamp(col("w.end")).as("session_end_s"),
            col("cnt"))
          // corpusGrain sortOnce (recompute-for-sampler shape): the output
          // is session-grain (≈ event count — ~95 M rows at sf100), so
          // the checkpointed shape's materialized copy outgrows the block
          // manager and becomes a full disk round-trip — measured sf100
          // 73.2 s checkpointed vs 43.7 s recomputed. At
          // sf10, where the copy fits in memory, the checkpoint is ~1.1 s
          // better — the 100 TB design point decides the default here.
          .transform(df => sortOnce(df, corpusGrain = true)(
            asc_nulls_first("user_id"), asc_nulls_first("session_start_s")))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
             |m AS (
             |  SELECT user_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL
             |         OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_start
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC NULLS FIRST)),
             |sess AS (
             |  SELECT user_id, us,
             |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY us ASC NULLS FIRST
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m)
             |SELECT user_id,
             |  CAST(MIN(us) // 1000000 AS BIGINT) AS session_start_s,
             |  CAST((MAX(us) + 1800000000) // 1000000 AS BIGINT) AS session_end_s,
             |  CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id ASC NULLS FIRST, session_start_s ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Gaps-and-islands session COUNT per user, relationally (lag + gap
      // predicate + conditional count) — the oracle-checkable cross-check
      // of q_session_window's semantics: a session starts where the gap
      // from the previous event exceeds 30 minutes. Timestamps compared at
      // second granularity (ns fixture, SURVEY §7.4.1); epoch seconds are
      // exact integers on both engines.
      "q_session_gaps",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(asc_nulls_first("ts_s"), asc_nulls_first("event_id"))
        tbl(s, d, "events")
          .withColumn("ts_s", unix_timestamp(date_trunc("second", col("ts"))))
          .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
          // >= : session_window's window is [ts, ts+gap), so an event at
          // exactly gap distance opens a NEW session
          .withColumn("is_start",
            col("prev_s").isNull || col("ts_s") - col("prev_s") >= 1800)
          .groupBy("user_id")
          .agg(
            count(when(col("is_start"), 1)).as("session_cnt"),
            count(lit(1)).as("event_cnt"))
          .orderBy(asc_nulls_first("user_id"))
      },
      Some("""SELECT user_id,
             |  COUNT(*) FILTER (WHERE is_start) AS session_cnt,
             |  COUNT(*) AS event_cnt
             |FROM (
             |  SELECT user_id,
             |    (prev_s IS NULL OR ts_s - prev_s >= 1800) AS is_start
             |  FROM (
             |    SELECT user_id, event_id,
             |      CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
             |      CAST(lag(epoch(date_trunc('second', ts)), 1) OVER (
             |        PARTITION BY user_id
             |        ORDER BY epoch(date_trunc('second', ts)) ASC NULLS FIRST,
             |                 event_id ASC NULLS FIRST) AS BIGINT) AS prev_s
             |    FROM events))
             |GROUP BY user_id
             |ORDER BY user_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Quantiles per event_type, EXACT discrete ranks (percentile_disc
      // semantics hand-rolled): the value at 1-based sorted index ⌈q·n⌉.
      // No interpolation anywhere — the output is a value PICKED from the
      // data, bit-identical on any engine, so this key is hash-oracled
      // (the GK-sketch surface is [[percentileSummary]], ScalaTest-
      // bounded, because sketch interpolation is engine-specific).
      // Rank math is integer-only: ⌈n/2⌉ = (n+1) div 2,
      // ⌈19n/20⌉ = (19n+19) div 20 — mirrored with // in the SQL.
      // Scale: DISTINCT-VALUE COMPRESSION, the
      // q_group_quantiles shape — the corpus-sized work is a map-side-
      // combinable (event_type, value) count (measured 10 M rows → 280 k
      // distinct pairs at sf10), and the rank window walks distinct
      // values only, so the per-group single-task sort that made the
      // naive row_number form go 31.6× at the 100× point (PROFILE_sf10)
      // now touches ~56 k rows per group instead of 2 M. The value at
      // rank k is the distinct value whose cumulative count first reaches
      // k (cum ≥ k ∧ cum − cnt < k) — identical output to ranking raw
      // rows, which is exactly what the UNCHANGED raw-row oracle SQL
      // cross-checks. At 100 TB the constant-state GK sketch
      // ([[percentileSummary]]) is the default path and this exact
      // variant is the audit tool.
      "q_percentiles",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(asc_nulls_first("value"))
        val cw = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
        tbl(s, d, "events")
          .groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(w))
          .withColumn("n", sum(col("cnt")).over(cw))
          .groupBy("event_type")
          .agg(
            max(when(expr("cum >= (n + 1) div 2 AND cum - cnt < (n + 1) div 2"),
              col("value"))).as("med_exact"),
            max(when(expr("cum >= (19 * n + 19) div 20 AND " +
              "cum - cnt < (19 * n + 19) div 20"), col("value"))).as("p95_exact"),
            sum(col("cnt")).cast("long").as("cnt"))
          .orderBy(asc_nulls_first("event_type"))
      },
      Some("""WITH s AS (
             |  SELECT event_type, value,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY value ASC NULLS FIRST) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM events)
             |SELECT event_type,
             |  MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med_exact,
             |  MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95_exact,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM s
             |GROUP BY event_type
             |ORDER BY event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Statistical moments per event_type: stddev/variance/skewness/
      // kurtosis plus a cross-column correlation. All single-pass
      // partial-aggregatable power sums — the 100 TB shape. Hash-oracled
      // via the q_exact_moments recipe generalized to 4th order:
      // values are quantized to exact integers (floor(value·10⁴) — floor,
      // not round: both engines floor identical doubles identically),
      // Σx..Σx⁴ and the u/xu cross sums accumulate in DECIMAL(38,0)
      // (order-independent; Σx⁴ ≲ 6·10²⁶/row leaves 11+ digits of
      // headroom at 10⁹ rows), then sd/var/skew/kurt/corr derive through
      // ONE fixed sequence of IEEE double ops mirrored token-for-token in
      // the oracle SQL. skew/kurt/corr are scale-invariant in x, so only
      // sd (÷10⁴) and var (÷10⁸) need de-scaling. Definitions: sample
      // var/sd, population skew g1 = √n·m3/m2^1.5, excess kurtosis
      // n·m4/m2² − 3, Pearson corr — pinned by TimeWindowSpec reference
      // math as well.
      "q_stats_moments",
      (s, d) => {
        val big = DecimalType(38, 0)
        val x = floor(col("value") * lit(10000.0)).cast(big)
        val u = col("user_id").cast(big)
        val agg = tbl(s, d, "events")
          .select(col("event_type"), x.as("x"), u.as("u"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("s1i"),
            sum(col("x") * col("x")).as("s2i"),
            sum(col("x") * col("x") * col("x")).as("s3i"),
            sum(col("x") * col("x") * col("x") * col("x")).as("s4i"),
            sum(col("u")).as("sui"),
            sum(col("u") * col("u")).as("suui"),
            sum(col("x") * col("u")).as("sxui"))
        val nD = col("n").cast("double")
        val s1 = col("s1i").cast("double"); val s2 = col("s2i").cast("double")
        val s3 = col("s3i").cast("double"); val s4 = col("s4i").cast("double")
        val su = col("sui").cast("double"); val suu = col("suui").cast("double")
        val sxu = col("sxui").cast("double")
        // central power sums from raw power sums (left-assoc chains —
        // the oracle SQL parses to the identical tree)
        val m2 = s2 - s1 * s1 / nD
        val m3 = s3 - lit(3.0) * s1 * s2 / nD + lit(2.0) * s1 * s1 * s1 / (nD * nD)
        val m4 = s4 - lit(4.0) * s1 * s3 / nD + lit(6.0) * s1 * s1 * s2 / (nD * nD) -
          lit(3.0) * s1 * s1 * s1 * s1 / (nD * nD * nD)
        val m2u = suu - su * su / nD
        agg.select(col("event_type"),
            (sqrt(m2 / (nD - lit(1.0))) / lit(10000.0)).as("sd"),
            (m2 / (nD - lit(1.0)) / lit(1.0e8)).as("vr"),
            (sqrt(nD) * m3 / (m2 * sqrt(m2))).as("skew"),
            (nD * m4 / (m2 * m2) - lit(3.0)).as("kurt"),
            ((sxu - s1 * su / nD) / (sqrt(m2) * sqrt(m2u))).as("corr_uv"))
          .orderBy(asc_nulls_first("event_type"))
      },
      Some("""WITH q AS (
             |  SELECT event_type,
             |    CAST(floor(value * 10000) AS HUGEINT) AS x,
             |    CAST(user_id AS HUGEINT) AS u
             |  FROM events),
             |p AS (
             |  SELECT event_type, COUNT(*) AS n,
             |    CAST(SUM(x) AS DOUBLE) AS s1,
             |    CAST(SUM(x * x) AS DOUBLE) AS s2,
             |    CAST(SUM(x * x * x) AS DOUBLE) AS s3,
             |    CAST(SUM(x * x * x * x) AS DOUBLE) AS s4,
             |    CAST(SUM(u) AS DOUBLE) AS su,
             |    CAST(SUM(u * u) AS DOUBLE) AS suu,
             |    CAST(SUM(x * u) AS DOUBLE) AS sxu
             |  FROM q GROUP BY event_type)
             |SELECT event_type,
             |  SQRT((s2 - s1 * s1 / n) / (n - 1.0)) / 10000.0 AS sd,
             |  (s2 - s1 * s1 / n) / (n - 1.0) / 1e8 AS vr,
             |  SQRT(n) * (s3 - 3.0 * s1 * s2 / n + 2.0 * s1 * s1 * s1 / (n * n))
             |    / ((s2 - s1 * s1 / n) * SQRT(s2 - s1 * s1 / n)) AS skew,
             |  n * (s4 - 4.0 * s1 * s3 / n + 6.0 * s1 * s1 * s2 / (n * n)
             |       - 3.0 * s1 * s1 * s1 * s1 / (n * n * n))
             |    / ((s2 - s1 * s1 / n) * (s2 - s1 * s1 / n)) - 3.0 AS kurt,
             |  (sxu - s1 * su / n) / (SQRT(s2 - s1 * s1 / n)
             |    * SQRT(suu - su * su / n)) AS corr_uv
             |FROM p ORDER BY event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Exact-arithmetic moments: n, Σx, Σx² accumulate in DECIMAL (order-
      // independent), then mean/var/stddev derive through a FIXED sequence
      // of IEEE double ops — deterministic on both engines, unlike the
      // float-accumulated var_samp/stddev_samp of q_stats_moments (which
      // stay ScalaTest-checked). The two-pass-free formulation
      // var = (n·Σx² − Σx²)/(n(n−1)) is the single-pass distributed shape.
      "q_exact_moments",
      (s, d) => {
        val agg = tbl(s, d, "events")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(dec(col("value"))).as("sx_dec"),
            sum(dec(col("value")) * dec(col("value"))).as("sxx_dec"))
        val nD = col("n").cast("double")
        val sx = col("sx_dec").cast("double")
        val sxx = col("sxx_dec").cast("double")
        val varExpr = (nD * sxx - sx * sx) / (nD * (nD - 1.0))
        agg.select(col("event_type"), col("n"),
            (sx / nD).as("mean"),
            varExpr.as("var_s"),
            sqrt(varExpr).as("sd_s"))
          .orderBy(asc_nulls_first("event_type"))
      },
      Some("""SELECT event_type, n, sx / n AS mean,
             |  (n * sxx - sx * sx) / (n * (n - 1.0)) AS var_s,
             |  SQRT((n * sxx - sx * sx) / (n * (n - 1.0))) AS sd_s
             |FROM (
             |  SELECT event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
             |  FROM events GROUP BY event_type)
             |ORDER BY event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Windowed drift monitor: per (day, event_type) exact
      // count/mean/sd — the continuously-running feed-health dashboard
      // (a shifting per-window mean/sd is how a corrupted upstream feed
      // announces itself). ONE definition for batch and streaming:
      // [[windowedStats]] is a plain windowed aggregation of exact
      // DECIMAL(38,0) power sums, so the SAME code runs under Structured
      // Streaming with a watermark (partial-aggregatable, order-
      // independent — StreamingWindowSpec pins frame-for-frame equality),
      // and the mean/sd tail is the fixed IEEE sequence mirrored in the
      // oracle. sd is NULL for single-row windows (no sample variance),
      // CASE'd identically on both engines.
      "q_stats_windows",
      (s, d) => windowedStats(tbl(s, d, "events"))
        .transform(df => sortOnce(df)(
          asc_nulls_first("day"), asc_nulls_first("event_type"))),
      Some("""WITH q AS (
             |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             |    event_type,
             |    CAST(floor(value * 10000) AS HUGEINT) AS x
             |  FROM events),
             |p AS (
             |  SELECT day, event_type, COUNT(*) AS n,
             |    CAST(SUM(x) AS DOUBLE) AS sx,
             |    CAST(SUM(x * x) AS DOUBLE) AS sxx
             |  FROM q GROUP BY day, event_type)
             |SELECT day, event_type, n,
             |  sx / n / 10000.0 AS mean,
             |  CASE WHEN n > 1 THEN
             |    SQRT((n * sxx - sx * sx) / (n * (n - 1.0))) / 10000.0
             |  END AS sd
             |FROM p
             |ORDER BY day ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Anomaly census per event_type: flag events further than 3
      // sample standard deviations from the group mean, report the
      // outlier count and the extreme |z| — the data-quality monitor a
      // production feed runs continuously. Two-pass broadcast shape:
      // pass 1 is a per-group map-side-combined aggregate whose output is
      // ONE ROW PER GROUP and BROADCASTS back; pass 2 is a narrow
      // projection + conditional aggregate on the same event_type
      // partitioning — the corpus never shuffles on a new key.
      // Hash-oracled via the q_stats_moments recipe: floor(value·10⁴)
      // quantization, DECIMAL(38,0) power sums (order-independent), then
      // mean/sd — and therefore every z and the 3σ comparison — derive
      // through ONE fixed IEEE double sequence mirrored token-for-token
      // in the SQL, so even boundary events classify identically.
      // z is computed in the quantized domain (z is scale-invariant, so
      // no de-scaling is needed anywhere).
      "q_zscore_outliers",
      (s, d) => {
        val big = DecimalType(38, 0)
        val e = tbl(s, d, "events")
          .select(col("event_type"),
            floor(col("value") * lit(10000.0)).cast(big).as("xq"))
        val stats = e.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("xq")).as("sxi"),
            sum(col("xq") * col("xq")).as("sxxi"))
        val nD = col("n").cast("double")
        val sx = col("sxi").cast("double")
        val sxx = col("sxxi").cast("double")
        val statsD = stats.select(col("event_type"),
          (sx / nD).as("mean_q"),
          sqrt((nD * sxx - sx * sx) / (nD * (nD - lit(1.0)))).as("sd_q"))
        e.join(broadcast(statsD), "event_type")
          .withColumn("az",
            abs((col("xq").cast("double") - col("mean_q")) / col("sd_q")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(when(col("az") > lit(3.0), 1L).otherwise(0L))
              .cast("long").as("n_outliers"),
            max(col("az")).as("max_abs_z"))
          .orderBy(asc_nulls_first("event_type"))
      },
      Some("""WITH q AS (
             |  SELECT event_type, CAST(floor(value * 10000) AS HUGEINT) AS xq
             |  FROM events),
             |p AS (
             |  SELECT event_type, COUNT(*) AS n,
             |    CAST(SUM(xq) AS DOUBLE) AS sx,
             |    CAST(SUM(xq * xq) AS DOUBLE) AS sxx
             |  FROM q GROUP BY event_type),
             |st AS (
             |  SELECT event_type, sx / n AS mean_q,
             |    SQRT((n * sxx - sx * sx) / (n * (n - 1.0))) AS sd_q
             |  FROM p),
             |zq AS (
             |  SELECT q.event_type,
             |    ABS((CAST(xq AS DOUBLE) - mean_q) / sd_q) AS az
             |  FROM q JOIN st ON q.event_type = st.event_type)
             |SELECT event_type, COUNT(*) AS cnt,
             |  CAST(SUM(CASE WHEN az > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_outliers,
             |  MAX(az) AS max_abs_z
             |FROM zq GROUP BY event_type
             |ORDER BY event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Robust anomaly census per event_type: modified z-score
      // |0.6745·(x − median)/MAD| > 3.5 (Iglewicz-Hoaglin) — the outlier
      // test that survives heavy tails, where mean/σ (q_zscore_outliers)
      // gets dragged by the outliers it is hunting. ENTIRELY exact until
      // the last step: x quantizes to an integer (floor·10⁴), the median
      // and the MAD are EXACT DISCRETE picks (the q_percentiles rank
      // machinery: value at 1-based sorted index ⌈n/2⌉), |x − med| is
      // integer subtraction — so the one double expression (0.6745·Δ/MAD)
      // is built from identical integers on both engines and classifies
      // identically. Precondition: MAD > 0 (holds for any continuous
      // value column; a >50%-constant column wants the rule gate, not a
      // z-test). Scale shape: two rank windows per group + two one-row-
      // per-group broadcasts back — same partitioning reused throughout,
      // corpus never shuffles on a new key.
      "q_robust_outliers",
      (s, d) => {
        // DISTINCT-VALUE COMPRESSION end to end (the
        // q_percentiles lesson from PROFILE_sf10): the corpus-sized work
        // is ONE map-side-combinable (event_type, xq) count; both rank
        // windows (median, MAD) and the final census walk compressed
        // frames weighted by cnt, never raw rows — identical output, and
        // the UNCHANGED raw-row oracle cross-checks the equivalence. The
        // value at rank k is the distinct value whose cumulative count
        // first reaches k.
        val c = tbl(s, d, "events")
          .select(col("event_type"),
            floor(col("value") * lit(10000.0)).as("xq"))
          .groupBy("event_type", "xq").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = false)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(asc_nulls_first("xq"))
        val wa = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(asc_nulls_first("ad"))
        val cw = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
        val med = c
          .withColumn("cum", sum(col("cnt")).over(w))
          .withColumn("n", sum(col("cnt")).over(cw))
          .filter(expr("cum >= (n + 1) div 2 AND cum - cnt < (n + 1) div 2"))
          .select(col("event_type"), col("xq").as("med_q"))
        val adC = c.join(broadcast(med), "event_type")
          .withColumn("ad", abs(col("xq") - col("med_q")))
          .groupBy("event_type", "ad").agg(sum(col("cnt")).as("cnt"))
        val mad = adC
          .withColumn("cum", sum(col("cnt")).over(wa))
          .withColumn("n", sum(col("cnt")).over(cw))
          .filter(expr("cum >= (n + 1) div 2 AND cum - cnt < (n + 1) div 2"))
          .select(col("event_type"), col("ad").as("mad_q"))
        c.join(broadcast(med), "event_type")
          .join(broadcast(mad), "event_type")
          .withColumn("amz", abs(lit(0.6745) *
            (col("xq") - col("med_q")).cast("double") /
            col("mad_q").cast("double")))
          .groupBy("event_type")
          .agg(sum(col("cnt")).cast("long").as("cnt"),
            max(col("med_q")).as("med_q"),
            max(col("mad_q")).as("mad_q"),
            sum(when(col("amz") > lit(3.5), col("cnt")).otherwise(0L))
              .cast("long").as("n_outliers"),
            max(col("amz")).as("max_abs_mz"))
          .orderBy(asc_nulls_first("event_type"))
      },
      Some("""WITH q AS (
             |  SELECT event_type, CAST(floor(value * 10000) AS BIGINT) AS xq
             |  FROM events),
             |r AS (
             |  SELECT event_type, xq,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY xq ASC NULLS FIRST) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM q),
             |med AS (SELECT event_type, xq AS med_q FROM r
             |        WHERE rn = (n + 1) // 2),
             |ad AS (
             |  SELECT q.event_type, xq, med_q, ABS(xq - med_q) AS ad
             |  FROM q JOIN med USING (event_type)),
             |ad_ranked AS (
             |  SELECT event_type, ad,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY ad ASC NULLS FIRST) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM ad),
             |mad AS (SELECT event_type, ad AS mad_q FROM ad_ranked
             |        WHERE rn = (n + 1) // 2),
             |mz AS (
             |  SELECT a.event_type, med_q, mad_q,
             |    ABS(0.6745 * CAST(xq - a.med_q AS DOUBLE)
             |        / CAST(mad_q AS DOUBLE)) AS amz
             |  FROM ad a JOIN mad USING (event_type))
             |SELECT event_type, COUNT(*) AS cnt,
             |  MAX(med_q) AS med_q, MAX(mad_q) AS mad_q,
             |  CAST(SUM(CASE WHEN amz > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_outliers,
             |  MAX(amz) AS max_abs_mz
             |FROM mz GROUP BY event_type
             |ORDER BY event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Ordered conversion funnel over the event stream (signup → click →
      // purchase, each stage strictly AFTER the previous stage's first
      // hit and within a 24 h conversion window of it): the classic
      // product-analytics sequence query. Time ordering compares exact µs
      // integers (unix_micros here, epoch_ns//1000 in the oracle —
      // identical truncation of the ns source), never floats.
      // Scale shape: three conditional min-aggregates + joins, ALL keyed
      // on user_id — one partitioning reused down the chain (co-partitioned
      // joins, no re-shuffle), stage-2/3 frames only shrink, and the final
      // rollup is 3 rows. No windows over the raw stream, no per-user
      // collect.
      "q_event_funnel",
      (s, d) => {
        val e = tbl(s, d, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("us")).as("t1"))
        val dayUs = 86400000000L
        val s2 = e.join(s1, "user_id")
          .filter(col("event_type") === "click" &&
            col("us") > col("t1") && col("us") <= col("t1") + dayUs)
          .groupBy("user_id").agg(min(col("us")).as("t2"))
        val s3 = e.join(s2, "user_id")
          .filter(col("event_type") === "purchase" &&
            col("us") > col("t2") && col("us") <= col("t2") + dayUs)
          .groupBy("user_id").agg(min(col("us")).as("t3"))
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .select((lit(1) +
            when(col("t2").isNotNull, 1).otherwise(0) +
            when(col("t3").isNotNull, 1).otherwise(0)).cast("long").as("stage"))
          .groupBy("stage").agg(count(lit(1)).as("n_users"))
          .orderBy(asc_nulls_first("stage"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
             |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
             |       WHERE event_type = 'signup' GROUP BY user_id),
             |s2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
             |       WHERE event_type = 'click' AND us > t1
             |         AND us <= t1 + 86400000000 GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
             |       WHERE event_type = 'purchase' AND us > t2
             |         AND us <= t2 + 86400000000 GROUP BY e.user_id)
             |SELECT stage, COUNT(*) AS n_users FROM (
             |  SELECT CAST(1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT
             |    AS BIGINT) AS stage
             |  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
             |GROUP BY stage ORDER BY stage ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Retention cohorts: users bucketed by first-active day, activity
      // counted per (cohort_day, day_offset) — the other canonical
      // event-analytics rollup. Day index = exact integer division of the
      // µs epoch (div on both engines; floor-consistent for the positive
      // epoch range), so the grid is integer end to end. Scale shape: one
      // distinct over (user, day) — the only corpus-sized shuffle — then
      // a user-keyed min + co-partitioned join back; output is bounded by
      // span² (30×30 here), independent of corpus size.
      "q_retention_cohorts",
      (s, d) => {
        val d0 = tbl(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .distinct()
        val coh = d0.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        d0.join(coh, "user_id")
          // (user, day) is distinct and cohort_day is functional on user,
          // so each user hits a (cohort_day, offset) cell at most once —
          // count(*) IS the distinct-user count, no second distinct agg
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(asc_nulls_first("cohort_day"), asc_nulls_first("day_offset"))
      },
      Some("""WITH d AS (
             |  SELECT DISTINCT user_id,
             |    epoch_ns(ts) // 1000 // 86400000000 AS day FROM events),
             |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
             |SELECT cohort_day, day - cohort_day AS day_offset, COUNT(*) AS n_users
             |FROM d JOIN c USING (user_id)
             |GROUP BY 1, 2
             |ORDER BY cohort_day ASC NULLS FIRST, day_offset ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Time-series gap filling: a generated day spine left-joined to the
      // daily aggregate, missing days zero-filled. The spine bounds come
      // from a 1-row aggregate (broadcast), the explode is bounded by the
      // date range — no driver-side loop.
      "q_date_spine",
      (s, d) => {
        val daily = tbl(s, d, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"))
        val bounds = tbl(s, d, "events")
          .agg(date_trunc("day", min(col("ts"))).as("lo"),
            date_trunc("day", max(col("ts"))).as("hi"))
        val spine = bounds
          .select(explode(sequence(col("lo"), col("hi"),
            expr("INTERVAL 1 DAY"))).as("day"))
        spine.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
          .orderBy(asc_nulls_first("day"))
      },
      Some("""WITH bounds AS (
             |  SELECT date_trunc('day', MIN(ts)) AS lo,
             |         date_trunc('day', MAX(ts)) AS hi FROM events),
             |spine AS (
             |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
             |  FROM bounds),
             |daily AS (
             |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1)
             |SELECT spine.day, COALESCE(daily.cnt, 0) AS cnt
             |FROM spine LEFT JOIN daily USING (day)
             |ORDER BY day ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Mergeable-sketch rollup: per-day HLL REGISTER TABLES built ONCE,
      // then UNIONED into the total — distinct users per day AND overall
      // from one scan, no re-aggregation of raw data. This is the 100 TB
      // cardinality architecture: sketches are partial-aggregate state
      // (constant size, here ≤ m=4096 (bucket, reg) rows/day), daily
      // sketches persist and any period rolls up by register-max, never
      // by rescan. Hash-oracled: the sketch state is the engine's OWN portable
      // register table (bucket = low 12 bits of the 60-bit md5-slice user
      // hash, reg = HLL rho of the remaining 48 bits = 49 − bitlength,
      // pure integers both engines), so the full pipeline — per-day
      // registers, the union's register-max (computed FROM the per-day
      // sketch frame, exercising mergeability), and the summary censuses —
      // is DuckDB-hash-checkable. Only the float ESTIMATOR stays engine/
      // ScalaTest-side (TimeWindowSpec: linear-counting estimate from
      // set_buckets within 5% of exact per day AND for the union), as a
      // presentation-layer function of the checked integer state. The
      // previous form (Spark hll_sketch_agg) had engine-specific sketch
      // bytes — unverifiable past the estimate.
      "q_hll_union",
      (s, d) => {
        val m = 4096
        val regsAll = tbl(s, d, "events")
          .select(date_trunc("day", col("ts")).as("day"),
            conv(md5(col("user_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long").as("h"))
          .select(col("day"), (col("h") % m).as("bucket"),
            expr(s"h div $m").as("w"))
          .select(col("day"), col("bucket"),
            when(col("w") === 0L, lit(49L))
              .otherwise(lit(49L) - length(conv(col("w"), 10, 2)).cast("long"))
              .as("rho"))
        // Per-day sketch: one register row per populated bucket. cnt rides
        // along so the events tally needs no second scan.
        val daily = regsAll.groupBy("day", "bucket")
          .agg(max(col("rho")).as("reg"), count(lit(1)).as("cnt"))
        val perDay = daily.groupBy("day")
          .agg(count(lit(1)).as("set_buckets"),
            sum(col("reg")).cast("long").as("reg_sum"),
            max(col("reg")).as("reg_max"),
            sum(col("cnt")).cast("long").as("events"))
        // Union = register-wise MAX over the per-day sketch frame — the
        // HLL merge, run on sketch state, not raw data.
        val union = daily.groupBy("bucket").agg(max(col("reg")).as("reg"))
        val total = union
          .agg(count(lit(1)).as("set_buckets"),
            sum(col("reg")).cast("long").as("reg_sum"),
            max(col("reg")).as("reg_max"))
          .crossJoin(broadcast(daily.agg(sum(col("cnt")).cast("long").as("events"))))
          .select(lit(null).cast("timestamp").as("day"), col("set_buckets"),
            col("reg_sum"), col("reg_max"), col("events"))
        perDay.select("day", "set_buckets", "reg_sum", "reg_max", "events")
          .unionByName(total)
          .orderBy(asc_nulls_first("day"))
      },
      Some("""WITH h AS (
             |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             |    CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
             |      AS BIGINT) AS h
             |  FROM events),
             |b AS (SELECT day, h % 4096 AS bucket, h // 4096 AS w FROM h),
             |r AS (
             |  SELECT day, bucket,
             |    MAX(CASE WHEN w = 0 THEN 49
             |        ELSE 49 - length(format('{:b}', w)) END) AS reg,
             |    COUNT(*) AS cnt
             |  FROM b GROUP BY day, bucket),
             |pd AS (
             |  SELECT day, COUNT(*) AS set_buckets,
             |    CAST(SUM(reg) AS BIGINT) AS reg_sum,
             |    CAST(MAX(reg) AS BIGINT) AS reg_max,
             |    CAST(SUM(cnt) AS BIGINT) AS events
             |  FROM r GROUP BY day),
             |u AS (SELECT bucket, MAX(reg) AS reg FROM r GROUP BY bucket),
             |tot AS (
             |  SELECT CAST(NULL AS TIMESTAMP) AS day,
             |    (SELECT COUNT(*) FROM u) AS set_buckets,
             |    (SELECT CAST(SUM(reg) AS BIGINT) FROM u) AS reg_sum,
             |    (SELECT CAST(MAX(reg) AS BIGINT) FROM u) AS reg_max,
             |    (SELECT CAST(SUM(cnt) AS BIGINT) FROM r) AS events)
             |SELECT * FROM pd UNION ALL SELECT * FROM tot
             |ORDER BY day ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Per-group exact discrete percentiles: p50/p90/p99 of value
      // per event_type via DISTINCT-VALUE COMPRESSION — groupBy
      // (group, value) count (map-side combinable: the only corpus-sized
      // shuffle carries one row per distinct value, not per event), then
      // a cumulative-count window over the compressed frame picks the
      // value at rank ceil(p·n/100). This is the skew-safe exact shape:
      // the naive window-rank formulation sorts every raw row inside ~5
      // fat partitions (one per event_type — exactly the low-cardinality
      // skew a 1000-executor cluster dies on); here the per-group window
      // runs over |distinct values| rows. All rank math is exact integer
      // (ceil as (p·n+99) div 100) and the output value is SELECTED, not
      // computed — no float arithmetic to drift cross-engine. The GK
      // sketch (q_percentiles' sibling surface) stays the
      // constant-state path when even distinct values are unbounded.
      "q_group_quantiles",
      (s, d) => {
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(asc_nulls_first("value"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
        tbl(s, d, "events")
          .filter(col("value").isNotNull)
          .groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(wOrd))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .withColumn("pct", explode(array(lit(50), lit(90), lit(99))))
          .withColumn("target", expr("(pct * n + 99) div 100"))
          .filter(col("cum") >= col("target") &&
            col("cum") - col("cnt") < col("target"))
          .select(col("event_type"), col("pct"), col("n").cast("long").as("n"),
            col("value").as("q_value"))
          .orderBy(asc_nulls_first("event_type"), asc_nulls_first("pct"))
      },
      Some("""WITH c AS (
             |  SELECT event_type, value, COUNT(*) AS cnt FROM events
             |  WHERE value IS NOT NULL GROUP BY 1, 2),
             |r AS (
             |  SELECT event_type, value, cnt,
             |    SUM(cnt) OVER (PARTITION BY event_type
             |      ORDER BY value ASC NULLS FIRST
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    SUM(cnt) OVER (PARTITION BY event_type) AS n
             |  FROM c),
             |p AS (SELECT unnest([50, 90, 99]) AS pct)
             |SELECT r.event_type, p.pct, CAST(r.n AS BIGINT) AS n,
             |       r.value AS q_value
             |FROM r CROSS JOIN p
             |WHERE r.cum >= (p.pct * r.n + 99) // 100
             |  AND r.cum - r.cnt < (p.pct * r.n + 99) // 100
             |ORDER BY event_type ASC NULLS FIRST, pct ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // HLL++ sketch distinct per event_type; ScalaTest asserts ±5% of
      // exact. No oracle (HLL implementations differ across engines).
      "q_approx_distinct",
      (s, d) => {
        tbl(s, d, "events")
          .groupBy("event_type")
          .agg(
            approx_count_distinct(col("user_id")).as("approx_users"),
            count(lit(1)).as("cnt"))
          .orderBy(asc_nulls_first("event_type"))
      },
      None
    ),
    Q(
      // Last-touch attribution: each purchase credits the user's most
      // recent PRECEDING non-purchase event, but only within a 1-day
      // lookback — older touches (or none) attribute to 'none'. One
      // user-keyed window carries (type, time) of the last non-purchase
      // row via ignore-nulls LAST over an unbounded-to-(-1) frame — a
      // single shuffle on user_id, state bounded per user, no self-join.
      // Ties on ts are broken by event_id so the carry is deterministic.
      "q_event_attribution",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(asc_nulls_first("us"), asc_nulls_first("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val touch = when(col("event_type") =!= "purchase", col("event_type"))
        val touchUs = when(col("event_type") =!= "purchase", col("us"))
        tbl(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("src_type", last(touch, ignoreNulls = true).over(w))
          .withColumn("src_us", last(touchUs, ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(
            when(col("src_us").isNotNull &&
              col("us") - col("src_us") <= 86400000000L, col("src_type"))
              .otherwise(lit("none")).as("touch"))
          .groupBy("touch").agg(count(lit(1)).as("n_purchases"))
          .orderBy(asc_nulls_first("touch"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |    epoch_ns(ts) // 1000 AS us FROM events),
             |c AS (
             |  SELECT event_type,
             |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
             |      THEN event_type END IGNORE NULLS) OVER w AS src_type,
             |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
             |      THEN us END IGNORE NULLS) OVER w AS src_us,
             |    us
             |  FROM e WINDOW w AS (PARTITION BY user_id
             |    ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             |SELECT CASE WHEN src_us IS NOT NULL AND us - src_us <= 86400000000
             |         THEN src_type ELSE 'none' END AS touch,
             |  COUNT(*) AS n_purchases
             |FROM c WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY touch ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // User-journey census: each user's first 5 events (by time, event_id
      // tiebreak) joined into a '>'-separated path, counted per distinct
      // path. Scale shape: rank + truncate via one user-keyed window (the
      // only corpus-sized shuffle), then the path agg groups ≤5 rows per
      // user and the final count groups by path — output bounded by
      // |event_type|^5, independent of corpus size. Order inside the path
      // is pinned by sorting the collected (rn, type) structs, not by
      // collect_list order (which is partition-dependent).
      "q_event_paths",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(asc_nulls_first("us"), asc_nulls_first("event_id"))
        tbl(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .groupBy("user_id")
          .agg(array_join(
            transform(
              array_sort(collect_list(struct(col("rn"), col("event_type")))),
              x => x.getField("event_type")), ">").as("path"))
          .groupBy("path").agg(count(lit(1)).as("n_users"))
          .orderBy(desc_nulls_last("n_users"), asc_nulls_first("path"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |    epoch_ns(ts) // 1000 AS us FROM events),
             |r AS (
             |  SELECT user_id, event_type, ROW_NUMBER() OVER (
             |    PARTITION BY user_id
             |    ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST) AS rn
             |  FROM e),
             |p AS (
             |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
             |  FROM r WHERE rn <= 5 GROUP BY user_id)
             |SELECT path, COUNT(*) AS n_users FROM p GROUP BY path
             |ORDER BY n_users DESC NULLS LAST, path ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Time-to-conversion distribution: per user, the latency from FIRST
      // view to FIRST purchase (users with both, purchase not earlier),
      // bucketed by hour. One user-keyed conditional-min aggregation (the
      // only corpus-sized shuffle, partial-agg'd map-side) then a
      // bucket-keyed rollup whose output is bounded by the time horizon,
      // not the corpus. All exact integer µs arithmetic; `div` floors.
      "q_time_to_conversion",
      (s, d) => {
        tbl(s, d, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "view", col("us"))).as("fv"),
            min(when(col("event_type") === "purchase", col("us"))).as("fp"))
          .filter(col("fv").isNotNull && col("fp").isNotNull &&
            col("fp") >= col("fv"))
          .select(expr("(fp - fv) div 3600000000").as("hour_bucket"))
          .groupBy("hour_bucket").agg(count(lit(1)).as("n_users"))
          .orderBy(asc_nulls_first("hour_bucket"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
             |  FROM events),
             |f AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'view' THEN us END) AS fv,
             |    MIN(CASE WHEN event_type = 'purchase' THEN us END) AS fp
             |  FROM e GROUP BY user_id)
             |SELECT CAST((fp - fv) // 3600000000 AS BIGINT) AS hour_bucket,
             |  COUNT(*) AS n_users
             |FROM f
             |WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
             |GROUP BY 1 ORDER BY hour_bucket ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Event-type Markov transition matrix: per user, consecutive
      // (src → dst) event pairs by time (event_id tiebreak), with exact
      // counts and the per-src transition probability as ONE final IEEE
      // division over exact integers. One user-keyed window (the only
      // corpus-sized shuffle); the (src, dst) rollup and the per-src
      // totals window both run on a frame bounded by |event_type|², not
      // the corpus.
      "q_markov_transitions",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(asc_nulls_first("us"), asc_nulls_first("event_id"))
        val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
        tbl(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("dst", lead(col("event_type"), 1).over(w))
          .filter(col("dst").isNotNull)
          .groupBy(col("event_type").as("src"), col("dst"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            col("n").cast("double") / sum(col("n")).over(wSrc).cast("double"))
          .orderBy(asc_nulls_first("src"), asc_nulls_first("dst"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |    epoch_ns(ts) // 1000 AS us FROM events),
             |t AS (
             |  SELECT event_type AS src, LEAD(event_type, 1) OVER (
             |    PARTITION BY user_id
             |    ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST) AS dst
             |  FROM e),
             |c AS (SELECT src, dst, COUNT(*) AS n FROM t
             |      WHERE dst IS NOT NULL GROUP BY src, dst)
             |SELECT src, dst, n,
             |  CAST(n AS DOUBLE) /
             |    CAST(CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS DOUBLE)
             |    AS p
             |FROM c ORDER BY src ASC NULLS FIRST, dst ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Peak concurrency per event type: each event holds a slot for 15
      // minutes ([ts, ts+15m) half-open); the answer is the max number of
      // simultaneously open slots — the load-sizing census behind capacity
      // planning. Classic sweep line: +1 at open, −1 at expiry, running
      // sum in time order, max. Ordering (t ASC, delta ASC) closes slots
      // BEFORE opening new ones at the same instant (half-open
      // semantics), and equal-(t,delta) rows commute under +, so the max
      // is independent of any residual tie order — hash-stable.
      //
      // The running sum is the same TWO-LEVEL distributed prefix sum as
      // q_pack_contexts: Window.partitionBy(event_type) alone would put
      // each type's whole multi-TB point stream in ONE task at 100 TB;
      // instead day buckets scan in parallel (inner window over
      // (type, day)), per-day totals prefix-sum on a frame ~10^5× smaller,
      // and a broadcast join adds each day's offset back. Exact integer
      // arithmetic throughout, so the oracle keeps the one-window form.
      "q_peak_concurrency",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val ev = tbl(s, d, "events")
        val pts = ev
          .select(col("event_type"), col("ts").as("t"), lit(1L).as("delta"))
          .unionByName(ev.select(col("event_type"),
            (col("ts") + expr("INTERVAL 15 MINUTES")).as("t"),
            lit(-1L).as("delta")))
          .withColumn("day", date_trunc("day", col("t")))
        val wIn = W.partitionBy("event_type", "day")
          .orderBy(asc_nulls_first("t"), asc_nulls_first("delta"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        val wOff = W.partitionBy("event_type")
          .orderBy(asc_nulls_first("day"))
          .rowsBetween(W.unboundedPreceding, -1)
        val offsets = pts.groupBy("event_type", "day")
          .agg(sum(col("delta")).as("day_sum"))
          .withColumn("offset", coalesce(sum(col("day_sum")).over(wOff), lit(0L)))
          .select("event_type", "day", "offset")
        pts.withColumn("run_in", sum(col("delta")).over(wIn))
          .join(broadcast(offsets), Seq("event_type", "day"))
          .groupBy("event_type")
          .agg(max(col("run_in") + col("offset")).cast("long").as("peak"))
          .orderBy(asc_nulls_first("event_type"))
      },
      Some("""WITH pts AS (
             |  SELECT event_type, ts AS t, 1 AS delta FROM events
             |  UNION ALL
             |  SELECT event_type, ts + INTERVAL 15 MINUTE AS t, -1 AS delta
             |  FROM events),
             |run AS (
             |  SELECT event_type,
             |    SUM(delta) OVER (PARTITION BY event_type
             |      ORDER BY t ASC, delta ASC ROWS UNBOUNDED PRECEDING) AS cur
             |  FROM pts)
             |SELECT event_type, CAST(MAX(cur) AS BIGINT) AS peak
             |FROM run GROUP BY event_type
             |ORDER BY event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Week-over-week traffic delta per event type — the period-over-
      // period census every operational dashboard leads with. The weekly
      // rollup is one map-side-combined aggregate down to a bounded
      // (week × type) frame; lag and the delta run on that tiny frame
      // (the raw stream never reaches a window — same altitude split as
      // q_stats_windows). Counts are exact BIGINT; pct_change is ONE
      // final IEEE division, NULL for each type's first week (explicit
      // CASE on both engines). Both engines truncate weeks to Monday
      // 00:00 UTC.
      "q_period_over_period",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("event_type").orderBy(asc_nulls_first("week"))
        tbl(s, d, "events")
          .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("prev", lag(col("cnt"), 1).over(w))
          .withColumn("pct_change",
            when(col("prev").isNotNull,
              (col("cnt") - col("prev")).cast("double") /
                col("prev").cast("double")))
          .orderBy(asc_nulls_first("event_type"), asc_nulls_first("week"))
      },
      Some("""WITH wk AS (
             |  SELECT event_type,
             |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             |    COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |l AS (SELECT event_type, week, cnt,
             |        lag(cnt, 1) OVER (PARTITION BY event_type
             |          ORDER BY week ASC NULLS FIRST) AS prev
             |      FROM wk)
             |SELECT event_type, week, cnt, prev,
             |  CASE WHEN prev IS NOT NULL
             |       THEN CAST(cnt - prev AS DOUBLE) / CAST(prev AS DOUBLE) END
             |    AS pct_change
             |FROM l
             |ORDER BY event_type ASC NULLS FIRST, week ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // EWMA drift monitor per event type — flag days whose traffic
      // diverges from an exponentially-weighted moving average of the
      // trailing week (the classic ops-anomaly baseline; EWMA discounts
      // old days where q_period_over_period's flat lag cannot). A float
      // EWMA recurrence would drift between engines, so the α=1/2 EWMA is
      // computed EXACTLY: over the 8 trailing days, numerator
      // Σ lag_i·2^(8-i) and denominator Σ 2^(8-i) (present lags only —
      // series starts self-correct) are pure BIGINT; ewma and the
      // actual/expected drift ratio are the only IEEE ops, each a single
      // correctly-rounded division on identical inputs both engines.
      //
      // Scale shape: the raw stream collapses to a bounded (type × day)
      // frame in one map-side-combined aggregate; the 8 lags run on that
      // tiny frame (same altitude split as q_stats_windows — window
      // functions never see the raw stream).
      "q_ewma_drift",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("event_type").orderBy(asc_nulls_first("day"))
        val daily = tbl(s, d, "events")
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"))
        val lags = (1 to 8).map(i => (lag(col("cnt"), i).over(w), 1L << (8 - i)))
        val num = lags.map { case (l, wt) => coalesce(l, lit(0L)) * lit(wt) }
          .reduce(_ + _)
        val den = lags.map { case (l, wt) =>
          when(l.isNotNull, lit(wt)).otherwise(lit(0L)) }.reduce(_ + _)
        daily
          .withColumn("num", num).withColumn("den", den)
          .withColumn("ewma", when(col("den") > 0,
            col("num").cast("double") / col("den").cast("double")))
          .withColumn("drift", when(col("den") > 0,
            col("cnt").cast("double") / col("ewma")))
          .select(col("event_type"), col("day"), col("cnt"),
            col("ewma"), col("drift"))
          .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)
             |      AS day,
             |    COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |l AS (SELECT event_type, day, cnt,
             |        lag(cnt, 1) OVER w AS l1, lag(cnt, 2) OVER w AS l2,
             |        lag(cnt, 3) OVER w AS l3, lag(cnt, 4) OVER w AS l4,
             |        lag(cnt, 5) OVER w AS l5, lag(cnt, 6) OVER w AS l6,
             |        lag(cnt, 7) OVER w AS l7, lag(cnt, 8) OVER w AS l8
             |      FROM daily
             |      WINDOW w AS (PARTITION BY event_type
             |                   ORDER BY day ASC NULLS FIRST)),
             |e AS (SELECT event_type, day, cnt,
             |        COALESCE(l1,0)*128 + COALESCE(l2,0)*64
             |          + COALESCE(l3,0)*32 + COALESCE(l4,0)*16
             |          + COALESCE(l5,0)*8 + COALESCE(l6,0)*4
             |          + COALESCE(l7,0)*2 + COALESCE(l8,0)*1 AS num,
             |        (CASE WHEN l1 IS NOT NULL THEN 128 ELSE 0 END)
             |          + (CASE WHEN l2 IS NOT NULL THEN 64 ELSE 0 END)
             |          + (CASE WHEN l3 IS NOT NULL THEN 32 ELSE 0 END)
             |          + (CASE WHEN l4 IS NOT NULL THEN 16 ELSE 0 END)
             |          + (CASE WHEN l5 IS NOT NULL THEN 8 ELSE 0 END)
             |          + (CASE WHEN l6 IS NOT NULL THEN 4 ELSE 0 END)
             |          + (CASE WHEN l7 IS NOT NULL THEN 2 ELSE 0 END)
             |          + (CASE WHEN l8 IS NOT NULL THEN 1 ELSE 0 END) AS den
             |      FROM l)
             |SELECT event_type, day, cnt,
             |  CASE WHEN den > 0
             |       THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS ewma,
             |  CASE WHEN den > 0
             |       THEN CAST(cnt AS DOUBLE)
             |            / (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) END
             |    AS drift
             |FROM e
             |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Key-skew probe: the count-of-counts histogram over events.user_id
      // in power-of-two bands — the census a planner pulls BEFORE picking
      // a salting factor or trusting AQE's skew split (q_salted_agg is the
      // cure; this measures the disease: one band holding most of the
      // events = a hot-key join/agg hazard). Band = integer bit length of
      // the per-key count (the shared conv/format idiom — no float log2
      // at band edges). Two-level shape: per-key counts are ONE
      // map-side-combined shuffle on user_id; the band rollup and the
      // share-of-total window run on frames bounded by (keys, ~20 bands).
      // All counts exact BIGINT; share is ONE final IEEE division.
      "q_skew_probe",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        tbl(s, d, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .groupBy(length(conv(col("n"), 10, 2)).cast("long").as("band"))
          .agg(count(lit(1)).as("n_keys"),
            min(col("n")).as("min_n"), max(col("n")).as("max_n"),
            sum(col("n")).as("n_events"))
          .withColumn("share",
            col("n_events").cast("double") /
              sum(col("n_events")).over(
                W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
                .cast("double"))
          .orderBy(asc_nulls_first("band"))
      },
      Some("""WITH per AS (
             |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
             |b AS (SELECT CAST(length(format('{:b}', n)) AS BIGINT) AS band,
             |        COUNT(*) AS n_keys, MIN(n) AS min_n, MAX(n) AS max_n,
             |        CAST(SUM(n) AS BIGINT) AS n_events
             |      FROM per GROUP BY 1)
             |SELECT band, n_keys, min_n, max_n, n_events,
             |  CAST(n_events AS DOUBLE)
             |    / CAST(CAST(SUM(n_events) OVER () AS BIGINT) AS DOUBLE)
             |    AS share
             |FROM b ORDER BY band ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Per-user activity span census — lifetime, active-day count, and
      // intensity per user (the engagement profile behind retention work;
      // q_retention_cohorts aggregates cohorts, this keeps the per-user
      // grain). One map-side-combined shuffle on user_id computes count /
      // distinct-day / min / max together; output is bounded by the user
      // population, not the event volume. span_days counts calendar-day
      // boundaries (Spark datediff on dates ≡ DuckDB date_diff('day') on
      // timestamps); events_per_day is ONE final IEEE division of exact
      // integers.
      "q_user_activity_span",
      (s, d) => {
        tbl(s, d, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(date_trunc("day", col("ts"))).as("n_days"),
            min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
          .withColumn("span_days",
            datediff(col("last_ts"), col("first_ts")).cast("long"))
          .withColumn("events_per_day",
            col("n_events").cast("double") / col("n_days").cast("double"))
          .orderBy(asc_nulls_first("user_id"))
      },
      Some("""SELECT user_id, COUNT(*) AS n_events,
             |  COUNT(DISTINCT date_trunc('day', ts)) AS n_days,
             |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
             |  CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT) AS span_days,
             |  CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT date_trunc('day', ts)) AS DOUBLE)
             |    AS events_per_day
             |FROM events GROUP BY user_id
             |ORDER BY user_id ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Daily reach decomposition — DAU split into new vs returning users
      // plus cumulative reach (the growth census behind every launch
      // dashboard; q_retention_cohorts answers "do they come back", this
      // answers "who is new today"). Two map-side-combined shuffles over
      // the raw stream (per-user first day; per-day distinct users — both
      // keyed, both exact); the join, the new/returning split, and the
      // cumulative window all run on the bounded day frame. The running
      // sum's single-partition window is ~tens-of-rows by construction
      // (one row per day), never the event stream. All counts exact
      // BIGINT.
      "q_daily_reach",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val ev = tbl(s, d, "events")
          .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        val firstSeen = ev.groupBy(col("user_id"))
          .agg(min(col("day")).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
        val dau = ev.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("dau"))
        dau.join(firstSeen, Seq("day"), "left")
          .select(col("day"), col("dau"),
            coalesce(col("new_users"), lit(0L)).as("new_users"))
          .withColumn("returning", col("dau") - col("new_users"))
          .withColumn("cum_reach", sum(col("new_users")).over(
            W.orderBy(asc_nulls_first("day"))
              .rowsBetween(W.unboundedPreceding, W.currentRow)))
          .orderBy(asc_nulls_first("day"))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             |    user_id
             |  FROM events),
             |fs AS (SELECT day, COUNT(*) AS new_users FROM (
             |         SELECT user_id, MIN(day) AS day FROM ev
             |         GROUP BY user_id)
             |       GROUP BY day),
             |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ev
             |        GROUP BY day)
             |SELECT day, dau, COALESCE(new_users, 0) AS new_users,
             |  dau - COALESCE(new_users, 0) AS returning,
             |  CAST(SUM(COALESCE(new_users, 0)) OVER (
             |    ORDER BY day ASC NULLS FIRST
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS cum_reach
             |FROM dau LEFT JOIN fs USING (day)
             |ORDER BY day ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Burstiness census per event type — the Fano factor (variance /
      // mean of DAILY counts; 1 = Poisson-like steady arrivals, >1 =
      // bursty/clumped, <1 = throttled/regular), the one-number check
      // that a traffic source behaves organically. Because the variable
      // is an integer COUNT, the power sums Σn and Σn² are pure BIGINT —
      // the population variance and the Fano ratio are the only IEEE
      // steps, in one fixed association mirrored by the oracle. Daily
      // rollup = one map-side-combined shuffle; the moment fold runs on
      // the bounded (type × day) frame.
      "q_burstiness",
      (s, d) => {
        tbl(s, d, "events")
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"),
            sum(col("n")).as("s1"),
            sum(col("n") * col("n")).as("s2"))
          .select(col("event_type"), col("n_days"),
            col("s1").cast("long").as("n_events"),
            (col("s1").cast("double") / col("n_days").cast("double"))
              .as("mean_daily"),
            (((col("n_days") * col("s2") - col("s1") * col("s1")).cast("double")
              / (col("n_days") * col("n_days")).cast("double"))
              / (col("s1").cast("double") / col("n_days").cast("double")))
              .as("fano"))
          .orderBy(asc_nulls_first("event_type"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS day,
             |    COUNT(*) AS n
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type, COUNT(*) AS n_days,
             |        CAST(SUM(n) AS BIGINT) AS s1,
             |        CAST(SUM(n * n) AS BIGINT) AS s2
             |      FROM daily GROUP BY event_type)
             |SELECT event_type, n_days, s1 AS n_events,
             |  CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
             |  (CAST(n_days * s2 - s1 * s1 AS DOUBLE)
             |     / CAST(n_days * n_days AS DOUBLE))
             |    / (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)) AS fano
             |FROM m
             |ORDER BY event_type ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Weekday seasonality profile per event type — counts and
      // within-type share by day-of-week (the seasonality fingerprint
      // behind staffing/alert thresholds; flat share = automated traffic,
      // strong weekday bias = organic). Day-of-week numbering differs
      // between engines (Spark dayofweek: 1=Sunday…7; DuckDB dayofweek:
      // 0=Sunday…6) — the oracle adds 1 so the column crosses engines
      // exactly. One map-side-combined rollup to the bounded
      // (type × 7) frame; share is ONE division over a window sum.
      "q_weekday_profile",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        tbl(s, d, "events")
          .groupBy(col("event_type"),
            dayofweek(col("ts")).cast("long").as("dow"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("share",
            col("n_events").cast("double") /
              sum(col("n_events")).over(W.partitionBy("event_type"))
                .cast("double"))
          .orderBy(asc_nulls_first("event_type"), asc_nulls_first("dow"))
      },
      Some("""WITH c AS (
             |  SELECT event_type,
             |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
             |    COUNT(*) AS n_events
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, dow, n_events,
             |  CAST(n_events AS DOUBLE)
             |    / CAST(CAST(SUM(n_events) OVER (PARTITION BY event_type)
             |        AS BIGINT) AS DOUBLE) AS share
             |FROM c
             |ORDER BY event_type ASC NULLS FIRST, dow ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Weekly churn census — per week: active users, how many of them do
      // NOT return the following week, and the churn rate (the retention
      // complement q_retention_cohorts reads cohort-relative; this is the
      // calendar view every growth dashboard pairs with q_daily_reach).
      // The last fixture week is right-CENSORED (its non-returners are
      // unknowable, not churned) — excluded on both engines via the
      // 1-row corpus max-week broadcast. Shape: the stream collapses to
      // the distinct (user, week) frame in one map-side-combined
      // aggregate; the consecutive-week lead runs per user (keyed), the
      // week rollup is bounded; counts exact BIGINT, rate ONE division.
      "q_weekly_churn",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val uw = tbl(s, d, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
          .distinct()
        val wU = W.partitionBy("user_id").orderBy(asc_nulls_first("week"))
        val maxW = uw.agg(max(col("week")).as("max_week"))
        uw.withColumn("nxt", lead(col("week"), 1).over(wU))
          .crossJoin(broadcast(maxW))
          .filter(col("week") < col("max_week")) // censored final week out
          .withColumn("churned",
            col("nxt").isNull || col("nxt") > col("week") + expr("INTERVAL 7 DAYS"))
          .groupBy(col("week"))
          .agg(count(lit(1)).as("active"),
            sum(when(col("churned"), 1L).otherwise(0L)).as("churned"))
          .select(col("week"), col("active"),
            col("churned").cast("long").as("churned"),
            (col("churned").cast("double") / col("active").cast("double"))
              .as("churn_rate"))
          .orderBy(asc_nulls_first("week"))
      },
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
             |  FROM events),
             |l AS (SELECT user_id, week,
             |        lead(week, 1) OVER (PARTITION BY user_id
             |          ORDER BY week ASC NULLS FIRST) AS nxt
             |      FROM uw),
             |m AS (SELECT MAX(week) AS max_week FROM uw)
             |SELECT week, COUNT(*) AS active,
             |  CAST(SUM(CASE WHEN nxt IS NULL OR nxt > week + INTERVAL 7 DAY
             |               THEN 1 ELSE 0 END) AS BIGINT) AS churned,
             |  CAST(SUM(CASE WHEN nxt IS NULL OR nxt > week + INTERVAL 7 DAY
             |               THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS churn_rate
             |FROM l CROSS JOIN m
             |WHERE week < max_week
             |GROUP BY week
             |ORDER BY week ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Inter-arrival-time distribution per event type in log2 bands —
      // the Poisson-vs-bursty DISTRIBUTION fingerprint (q_burstiness'
      // Fano factor is the one-number summary; automated traffic shows a
      // spiked band profile, organic a smooth geometric decay). Gap =
      // consecutive same-(user, type) event spacing in exact integer µs
      // (unix_micros ≡ epoch_us); band = bit length of the gap (the
      // integer-log2 idiom — no float log), so the whole census is
      // hash-exact. One user-keyed window (the only corpus-sized
      // shuffle, (tus, event_id) total order); the rollup and the share
      // window run on the bounded (type × ~40 band) frame.
      "q_interarrival_bands",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(asc_nulls_first("tus"), asc_nulls_first("event_id"))
        tbl(s, d, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("tus"))
          .withColumn("prev", lag(col("tus"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("event_type"),
            length(conv(col("tus") - col("prev"), 10, 2)).cast("long")
              .as("gap_band"))
          .groupBy("event_type", "gap_band")
          .agg(count(lit(1)).as("n_gaps"))
          .withColumn("share", col("n_gaps").cast("double") /
            sum(col("n_gaps")).over(org.apache.spark.sql.expressions.Window
              .partitionBy("event_type")).cast("double"))
          .orderBy(asc_nulls_first("event_type"), asc_nulls_first("gap_band"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, event_id,
             |    epoch_us(ts) AS tus
             |  FROM events),
             |l AS (SELECT user_id, event_type, tus,
             |        lag(tus, 1) OVER (PARTITION BY user_id, event_type
             |          ORDER BY tus ASC NULLS FIRST,
             |                   event_id ASC NULLS FIRST) AS prev
             |      FROM e),
             |g AS (SELECT event_type,
             |        CAST(length(format('{:b}', tus - prev)) AS BIGINT)
             |          AS gap_band
             |      FROM l WHERE prev IS NOT NULL),
             |c AS (SELECT event_type, gap_band, COUNT(*) AS n_gaps
             |      FROM g GROUP BY event_type, gap_band)
             |SELECT event_type, gap_band, n_gaps,
             |  CAST(n_gaps AS DOUBLE)
             |    / CAST(CAST(SUM(n_gaps) OVER (PARTITION BY event_type)
             |        AS BIGINT) AS DOUBLE) AS share
             |FROM c
             |ORDER BY event_type ASC NULLS FIRST,
             |         gap_band ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Cross-type daily-count Pearson correlation census — which event
      // types move together day over day (co-moving = the same acquisition
      // funnel or the same bot; anti-moving = substitution). Exact across
      // engines because every Pearson sum (n, Σx, Σy, Σx², Σy², Σxy) is a
      // BIGINT over integer daily counts — r's numerator/denominator are
      // then exact integers and the result is sqrt+sqrt+divide, three
      // correctly-rounded IEEE ops with fixed association. Days with no
      // events of a type count as 0 via a dense (day × type) grid (an
      // inner join on observed days only would bias r upward). Scale
      // shape: ONE map-side-combined (day, type) count, the grid and the
      // |type|²-bounded pair frame never touch the event stream.
      "q_type_corr",
      (s, d) => {
        val counts = tbl(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("event_type"))
          .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
          .localCheckpoint(eager = false) // feeds grid spine + both sides
        val days = counts.select("day").distinct()
        val types = counts.select("event_type").distinct()
        // broadcast: the type frame is |event_type|-bounded (single-digit
        // rows) — the grid cross is a BNLJ against it, never a cartesian
        val grid = days.crossJoin(broadcast(types))
          .join(counts, Seq("day", "event_type"), "left")
          .select(col("day"), col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"))
        val a = grid.select(col("day"), col("event_type").as("ta"),
          col("n").as("x"))
        val b = grid.select(col("day"), col("event_type").as("tb"),
          col("n").as("y"))
        // Moment sums in DECIMAL(38,0) (oracle: HUGEINT), not BIGINT: at
        // the 100 TB shape a per-day per-type count near 3e9 makes x*x
        // ~9e18 — one product already at BIGINT's edge, and the sum over
        // days silently wraps. Exact decimal keeps the repo's
        // integer-exact convention; the one IEEE division at the end is
        // unchanged.
        a.join(b, "day").filter(col("ta") < col("tb"))
          .groupBy("ta", "tb")
          .agg(count(lit(1)).as("n_days"),
            sum(expr("cast(x as decimal(20,0))")).as("sx"),
            sum(expr("cast(y as decimal(20,0))")).as("sy"),
            sum(expr("cast(x as decimal(19,0)) * cast(x as decimal(19,0))")).as("sxx"),
            sum(expr("cast(y as decimal(19,0)) * cast(y as decimal(19,0))")).as("syy"),
            sum(expr("cast(x as decimal(19,0)) * cast(y as decimal(19,0))")).as("sxy"))
          // nullif: a zero-variance type (constant daily count) yields a
          // 0 denominator — r is UNDEFINED there, and NaN/Inf would also
          // hash differently across engines; NULL is the portable answer
          .withColumn("den",
            sqrt(expr("cast(n_days*sxx - sx*sx as double)"))
              * sqrt(expr("cast(n_days*syy - sy*sy as double)")))
          .select(col("ta"), col("tb"), col("n_days").cast("long").as("n_days"),
            (expr("cast(n_days*sxy - sx*sy as double)")
              / expr("nullif(den, 0.0d)")).as("pearson_r"))
          .orderBy(asc_nulls_first("ta"), asc_nulls_first("tb"))
      },
      Some("""WITH c AS (
             |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
             |  FROM events GROUP BY day, event_type),
             |g AS (
             |  SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
             |  FROM (SELECT DISTINCT day FROM c) d
             |  CROSS JOIN (SELECT DISTINCT event_type FROM c) t
             |  LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type),
             |p AS (
             |  SELECT a.event_type AS ta, b.event_type AS tb,
             |    COUNT(*) AS n_days,
             |    SUM(CAST(a.n AS HUGEINT)) AS sx,
             |    SUM(CAST(b.n AS HUGEINT)) AS sy,
             |    SUM(CAST(a.n AS HUGEINT) * a.n) AS sxx,
             |    SUM(CAST(b.n AS HUGEINT) * b.n) AS syy,
             |    SUM(CAST(a.n AS HUGEINT) * b.n) AS sxy
             |  FROM g a JOIN g b ON a.day = b.day AND a.event_type < b.event_type
             |  GROUP BY ta, tb)
             |SELECT ta, tb, n_days,
             |  CAST(n_days*sxy - sx*sy AS DOUBLE)
             |    / NULLIF(sqrt(CAST(n_days*sxx - sx*sx AS DOUBLE))
             |       * sqrt(CAST(n_days*syy - sy*sy AS DOUBLE)), 0) AS pearson_r
             |FROM p
             |ORDER BY ta ASC NULLS FIRST, tb ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      // Cross-type USER-grain co-occurrence with lift — the item-item
      // collaborative-filtering primitive (which event types the same
      // users touch), complementing q_type_corr's DAY-grain correlation:
      // correlation sees co-moving volume, lift sees shared audiences.
      // lift = P(a∧b)/(P(a)·P(b)) = n_shared·N_users / (n_a·n_b): both
      // products are exact BIGINT, the quotient is ONE correctly-rounded
      // IEEE division — hash-exact. Scale shape: the event stream
      // collapses to the distinct (user, type) frame in one map-side-
      // combined shuffle; the self-join fans out ≤ |types|² rows PER USER
      // (types is single-digit) and reduces map-side into the bounded
      // pair frame; per-type counts and the 1-row user total broadcast.
      "q_cooccur_types",
      (s, d) => {
        val ut = tbl(s, d, "events")
          .select(col("user_id"), col("event_type")).distinct()
          .localCheckpoint(eager = false) // feeds pair join + both totals
        val tc = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val nu = ut.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("nu"))
        val pairs = ut.as("a").join(ut.as("b"),
            col("a.user_id") === col("b.user_id")
              && col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
          .agg(count(lit(1)).as("n_shared"))
        pairs
          .join(broadcast(tc.select(col("event_type").as("ta"), col("n").as("na"))), "ta")
          .join(broadcast(tc.select(col("event_type").as("tb"), col("n").as("nb"))), "tb")
          .crossJoin(broadcast(nu))
          .select(col("ta"), col("tb"), col("n_shared"),
            (expr("cast(n_shared * nu as double)")
              / expr("cast(na * nb as double)")).as("lift"))
          .orderBy(asc_nulls_first("ta"), asc_nulls_first("tb"))
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
             |tc AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
             |nu AS (SELECT COUNT(DISTINCT user_id) AS nu FROM ut),
             |p AS (
             |  SELECT a.event_type AS ta, b.event_type AS tb,
             |    COUNT(*) AS n_shared
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT ta, tb, CAST(n_shared AS BIGINT) AS n_shared,
             |  CAST(n_shared * nu.nu AS DOUBLE)
             |    / CAST(ca.n * cb.n AS DOUBLE) AS lift
             |FROM p
             |CROSS JOIN nu
             |JOIN tc ca ON ca.event_type = p.ta
             |JOIN tc cb ON cb.event_type = p.tb
             |ORDER BY ta ASC NULLS FIRST, tb ASC NULLS FIRST""".stripMargin)
    )
  )

  /** Per-(1-day-window, event_type) exact count/mean/sd — the windowed
    * drift monitor behind q_stats_windows, shared VERBATIM between batch
    * and streaming: a windowed aggregation of exact DECIMAL(38,0) power
    * sums (order-independent, partial-aggregatable — precisely what a
    * watermarked streaming agg needs) with the fixed-IEEE mean/sd tail.
    * Pass a watermarked stream and the same plan runs under Structured
    * Streaming; StreamingWindowSpec pins frame-for-frame equality.
    */
  def windowedStats(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val big = DecimalType(38, 0)
    val x = floor(col("value") * lit(10000.0)).cast(big)
    val agg = events
      .select(col("ts"), col("event_type"), x.as("x"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sxi"),
        sum(col("x") * col("x")).as("sxxi"))
    val nD = col("n").cast("double")
    val sx = col("sxi").cast("double")
    val sxx = col("sxxi").cast("double")
    agg.select(col("w.start").as("day"), col("event_type"), col("n"),
      (sx / nD / lit(10000.0)).as("mean"),
      when(col("n") > 1,
        sqrt((nD * sxx - sx * sx) / (nD * (nD - lit(1.0)))) / lit(10000.0))
        .as("sd"))
  }

  /** GK-sketch quantiles (p50/p95, accuracy 1/10000) alongside the exact
    * median, per event_type — THE 100 TB quantile path: constant sketch
    * state per group, merged associatively, one map-side-combined shuffle.
    * Sketch pick points are engine-specific (no cross-engine oracle
    * exists), so this surface is ScalaTest-bounded (TimeWindowSpec pins
    * ±2% rank error vs a sorted-array reference); the DECLARED
    * q_percentiles key is the exact-rank variant, which hash-matches.
    */
  def percentileSummary(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events
      .groupBy("event_type")
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_approx"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95_approx"),
        median(col("value")).as("med_exact"),
        count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("event_type"))
}
