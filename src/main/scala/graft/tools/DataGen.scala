package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor data generator — the repo-side twin of the
  * driver's seed-42 synthesizer (TESTDATA.md), for scale points the driver
  * does not ship (/root/testdata is read-only and tops out at sf0.1).
  * Purpose: back the "would survive 100×" claims with a MEASURED point —
  * generate sf1.0 (10× the bench scale), run graft.tools.Profile on both,
  * and check every hot query scales ~linearly (PROFILE_sf1.txt).
  *
  * Same schemas, same value shapes and cardinalities as the driver tables
  * (events.ts is written as a µs timestamp_ntz — parquet timestamp[us] —
  * matching the driver fixture; `graft.ops.tbl` type-switches on
  * the ts encoding so either generation reads identically). Every column
  * derives from xxhash64(salt, id): generation
  * is partition-independent and reproducible at any parallelism, with no
  * driver-side loops — the generator itself is a distributed job and
  * would produce a 100 TB fixture the same way it produces 1 GB.
  *
  * Run: sbt "runMain graft.tools.DataGen <sf> <outDir>"
  */
object DataGen {

  // hash-derived uniform in [0, n): pmod(xxhash64(salt, id), n)
  private def hmod(salt: String, n: Long, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(n))

  private def pick(salt: String, vals: Seq[String], cols: Column*): Column =
    element_at(array(vals.map(lit): _*), (hmod(salt, vals.length, cols: _*) + 1).cast("int"))

  // uniform double in [lo, hi) with `dp` decimals, exact 2-step rounding
  private def hdouble(salt: String, lo: Double, hi: Double, dp: Int, cols: Column*): Column = {
    val steps = math.round((hi - lo) * math.pow(10, dp)).max(1)
    (lit(lo) + hmod(salt, steps, cols: _*) / lit(math.pow(10, dp))).cast("double")
  }

  private val Vocab = Seq(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "stream", "table", "key", "query", "window", "join", "vector", "data",
    "the", "a", "customer", "large", "index", "merge", "shuffle", "plan",
    "read", "write", "cache", "disk", "row", "page", "block", "node")

  private def words(salt: String, lenCol: Column, id: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), (lenCol - 1).cast("int")),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(salt), id, i), lit(Vocab.length)) + 1).cast("int"))))

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val outDir = args.lift(1).getOrElse(s"/tmp/graft-testdata/sf$sf")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, sf, outDir)
    spark.stop()
  }

  /** Row counts scale linearly with sf (sf0.1 = the driver's bench scale). */
  def generate(spark: SparkSession, sf: Double, outDir: String): Unit = {
    def n(base0p1: Long): Long = math.max(1L, math.round(base0p1 * sf / 0.1))
    val nCust = n(15000)
    val nSupp = n(1000)
    val nPart = n(20000)
    val nOrders = n(150000)
    val nLines = n(600000)
    val nEvents = n(100000)
    val nDocs = n(5000)
    val nVecs = n(2000)
    // file counts sized so a partition stays in the 10-100 MB band
    val parts = math.max(8, math.min(256, (nLines / 200000).toInt))

    def rng(rows: Long, parts: Int): DataFrame =
      spark.range(0, rows, 1, parts).toDF("id")

    def save(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[datagen] wrote $name")
    }

    save(spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
      .toDF("r_regionkey", "r_name"), "region")

    save(rng(25, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("Nation#"), lpad(col("id").cast("string"), 2, "0")).as("n_name"),
      hmod("nreg", 5, col("id")).cast("int").as("n_regionkey")), "nation")

    save(rng(nCust, 8).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      hmod("cnat", 25, col("id")).cast("int").as("c_nationkey"),
      hdouble("cbal", 0.0, 10000.0, 2, col("id")).as("c_acctbal"),
      pick("cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        col("id")).as("c_mktsegment")), "customer")

    save(rng(nSupp, 4).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      hmod("snat", 25, col("id")).cast("int").as("s_nationkey"),
      hdouble("sbal", 0.0, 10000.0, 2, col("id")).as("s_acctbal")), "supplier")

    save(rng(nPart, 8).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick("padj", Seq("large", "hot", "blue", "dim", "smooth", "dark", "pale", "spring"), col("id")),
        pick("pnoun", Seq("ring", "bolt", "washer", "anchor", "plate", "wheel", "gear", "pin"), col("id"))).as("p_name"),
      concat(lit("Brand#"), hmod("pbr", 25, col("id"))).as("p_brand"),
      pick("ptyp", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), col("id")).as("p_type"),
      (hmod("psz", 50, col("id")) + 1).cast("int").as("p_size"),
      (lit(900.0) + hmod("ppr", 1000, col("id")) / lit(10.0)).cast("double").as("p_retailprice")), "part")

    // orders span [1995-01-01, 2001-08-01) — ~2404 days, ms timestamps
    val orderDay = hmod("odt", 2404, col("id"))
    save(rng(nOrders, parts).select(
      col("id").as("o_orderkey"),
      hmod("ocust", nCust, col("id")).as("o_custkey"),
      pick("ost", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
      hdouble("opr", 900.0, 500000.0, 2, col("id")).as("o_totalprice"),
      // cast to NTZ: the driver fixture's parquet timestamps are
      // isAdjustedToUTC=false (Spark reads timestamp_ntz); session TZ is
      // pinned UTC so the cast is value-preserving and deterministic
      timestamp_millis(lit(789609600000L) + orderDay * lit(86400000L))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick("opri", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        col("id")).as("o_orderpriority")), "orders")

    // lineitem: l_orderkey hash-scattered over orders (≈4 lines/order),
    // linenumber 1..7 — (l_orderkey, l_linenumber) NOT unique, matching
    // the driver fixture's documented quirk (TESTDATA.md / verify skill)
    val shipDay = hmod("ldt", 2500, col("id"))
    save(rng(nLines, parts).select(
      hmod("lord", nOrders, col("id")).as("l_orderkey"),
      hmod("lpart", nPart, col("id")).as("l_partkey"),
      hmod("lsupp", nSupp, col("id")).as("l_suppkey"),
      (hmod("lln", 7, col("id")) + 1).cast("int").as("l_linenumber"),
      (hmod("lqty", 50, col("id")) + 1).cast("double").as("l_quantity"),
      hdouble("lep", 900.0, 105000.0, 2, col("id")).as("l_extendedprice"),
      (hmod("ldis", 11, col("id")) / lit(100.0)).cast("double").as("l_discount"),
      (hmod("ltax", 9, col("id")) / lit(100.0)).cast("double").as("l_tax"),
      pick("lrf", Seq("A", "N", "R"), col("id")).as("l_returnflag"),
      pick("lls", Seq("F", "O"), col("id")).as("l_linestatus"),
      timestamp_millis(lit(789696000000L) + shipDay * lit(86400000L))
        .cast("timestamp_ntz").as("l_shipdate")), "lineitem")

    // events: ts is a µs TIMESTAMP_NTZ (parquet timestamp[us], what the
    // driver fixture ships; older fixtures carry timestamp[ns]) —
    // monotone in event_id over 30 days from 2024-01-01, with sub-step
    // jitter. The instant is computed in exact ns integer arithmetic and
    // floored to µs with `div` (a double division would lose precision: ns
    // epochs exceed 2^53), so the values are bit-identical to what the old
    // ns-long encoding produced after graft.ops.tbl's ns→µs conversion.
    val nsSpan = 30L * 86400L * 1000000000L
    save(rng(nEvents, parts).select(
      col("id").as("event_id"),
      (lit(1704067200000000000L) + col("id") * lit(nsSpan / math.max(1L, nEvents)) +
        hmod("ejit", 1000000000L, col("id"))).as("ts_ns"),
      hmod("euser", math.max(1L, nCust / 10), col("id")).as("user_id"),
      pick("etyp", Seq("click", "error", "purchase", "signup", "view"), col("id")).as("event_type"),
      hdouble("eval", 0.0, 561.0, 2, col("id")).as("value"),
      concat(lit("{\"k\": "), hmod("eprop", 100, col("id")), lit("}")).as("props"))
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    // documents: 10-100 vocab words; ~1.5% of rows are planted exact
    // duplicates of another doc's text (same shape the dedup family
    // expects to find); n_chars = length(text) by construction.
    // A row only becomes a dup pointer when its hash-picked source is NOT
    // itself a pointer: a pointer-to-pointer would derive its text from
    // the source id directly while the source's text derives from ITS
    // source — a planted "duplicate" matching nothing. Rate: (1/64)·(63/64).
    val dSrc = hmod("dsrcid", math.max(1L, nDocs / 2), col("id"))
    val dupOf = when(hmod("ddup", 64, col("id")) === 0 &&
      hmod("ddup", 64, dSrc) =!= 0, dSrc).otherwise(col("id"))
    save(rng(nDocs, parts).select(
      col("id").as("doc_id"),
      words("dtxt", (pmod(xxhash64(lit("dlen2"), dupOf), lit(91)) + 10), dupOf).as("text"),
      pick("dlang", Seq("de", "en", "en", "es", "fr", "zh"), col("id")).as("lang"),
      concat(lit("src"), hmod("dsrc", 20, col("id"))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: 64-dim float in [-1, 1); ~2% planted near-duplicates
    // (another vector plus a small per-dim perturbation) so the ANN/near-dup
    // family has real positives at every scale. Same pointer-chain guard as
    // documents: only plant against a source that is itself NOT a pointer,
    // so the pair's base vectors genuinely coincide.
    val vSrc = hmod("vsrcid", math.max(1L, nVecs / 2), col("id"))
    val vecOf = when(hmod("vdup", 50, col("id")) === 0 &&
      hmod("vdup", 50, vSrc) =!= 0, vSrc).otherwise(col("id"))
    save(rng(nVecs, math.max(4, parts / 2)).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(xxhash64(lit("vdim"), vecOf, i), lit(2001)) - 1000) / lit(1000.0) +
          when(col("id") =!= vecOf,
            (pmod(xxhash64(lit("vjit"), col("id"), i), lit(21)) - 10) / lit(1000.0))
            .otherwise(lit(0.0)))
          .cast("float")).as("embedding"),
      hmod("vlab", 10, col("id")).cast("int").as("label")), "embeddings")

    println(s"[datagen] sf=$sf done -> $outDir (lineitem=$nLines, docs=$nDocs)")
  }
}
