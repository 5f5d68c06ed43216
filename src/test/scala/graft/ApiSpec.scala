package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.bus._
import graft.bus.FileAdapters._

/** Public-API edge: typed table views, typed bus config, JSON source. */
class ApiSpec extends SparkSpec {

  import spark.implicits._

  test("typed table views decode with full fidelity") {
    val docs = Tables.documents(spark, sfDir)
    assert(docs.filter(_.lang == "en").count() > 0)
    val ev = Tables.events(spark, sfDir).head()
    assert(ev.ts != null && ev.event_id >= 0)
    val emb = Tables.embeddings(spark, sfDir).head()
    assert(emb.embedding.length == 64)
    assert(Tables.customers(spark, sfDir).count() ==
      graft.ops.tbl(spark, sfDir, "customer").count())
    assert(Tables.orders(spark, sfDir).count() ==
      graft.ops.tbl(spark, sfDir, "orders").count())
  }

  test("Graft.configure wires an existing session for the engine") {
    // a session the engine did not build: default conf, builtin functions
    val shared = spark.newSession()
    Graft.EngineConf.foreach { case (k, _) => shared.conf.unset(k) }
    Graft.configure(shared)
    // the one conf list holds on a configured session and on the test
    // JVM's session alike; `session` sets the Hadoop keys (outside
    // `spark.`) through the context, so they hold in its Hadoop conf
    val testHadoopConf = TestSpark.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    for ((k, v) <- Graft.EngineConf) {
      assert(shared.conf.get(k) == v, s"$k")
      assert((if (k.startsWith("spark.")) TestSpark.spark.conf.get(k) else testHadoopConf.get(k)) == v,
        s"$k")
    }
    // native SQL functions registered
    assert(shared.sql("SELECT vector_dot(array(CAST(1.0 AS FLOAT)), " +
      "array(CAST(2.0 AS FLOAT))) AS d").as[Double].head() == 2.0)
    // nanos flag lets the events table read directly
    assert(shared.read.parquet(s"$sfDir/events.parquet").count() > 0)
  }

  test("sessionWithConf caches one clone per (parent, key, value)") {
    import org.apache.spark.sql.GraftBridge.sessionWithConf
    val key = "spark.sql.files.maxPartitionBytes"
    val a = sessionWithConf(spark, key, "4194304")
    assert(sessionWithConf(spark, key, "4194304") eq a)
    val b = sessionWithConf(spark, key, "8388608")
    assert(!(b eq a))
    assert(a.conf.get(key) == "4194304" && b.conf.get(key) == "8388608")
    assert(spark.conf.get(key) != "4194304", "the parent keeps its conf")
    // every scoped frame of one parent rides the same clone
    assert(Graft.boundedAggFrame(spark.range(1).toDF()).sparkSession eq
      Graft.boundedAggFrame(spark.range(2).toDF()).sparkSession)
  }

  test("BusConfig.fromEnv maps the reference's documented variables") {
    val cfg = BusConfig.fromEnv(Map(
      "BUFFER_SIZE" -> "42", "MOCK" -> "TRUE", "FAIL_DEST" -> "dlq",
      "FLUSH_TIMEOUT_MS" -> "1234", "CHECKPOINT_DIR" -> "/tmp/x"))
    assert(cfg == BusConfig(42, "dlq", 1234L, mock = true, Some("/tmp/x")))
    assert(BusConfig.fromEnv(Map.empty) == BusConfig())
  }

  test("pre-start AddOptions: transforms and fail sink attach before start") {
    // the reference's AddOptions applies options to a constructed bus
    // (frizzle.go:82-87, incl. FailSink rewiring options.go:35-41); all of
    // receive/send transforms and the fail sink also rewire LIVE (epoch
    // granularity, see the live-rewire tests in BusSpec)
    val src = new MemorySource(spark)
    val sink = new MemorySink
    val dlq = new MemorySink
    val bus = new FrizzleStream(spark, src,
      FrizzleStream.exprProcessor(
        dest = when(col("data").cast("string") =!= "fail", "out"),
        failed = col("data").cast("string") === "fail"),
      sink,
      checkpointDir = Some(Files.createTempDirectory("addopt_ck").toString))
    bus.withFailSink(dlq, Some("dead"))
      .addReceiveTransforms(SeparatorTransform.utf8("\n"))
      .addSendTransforms(SeparatorTransform.utf8("\n"))
    bus.start()
    // wire input arrives framed; receive strips, so routing sees bare payloads
    src.put(Msg.utf8("1", "ok\n"), Msg.utf8("2", "fail\n"))
    bus.awaitIdle()
    assert(sink.sent("out").map(_.dataUtf8) == Seq("ok\n"),
      "added receive+send transforms must round-trip the frame")
    assert(dlq.sent("dead").map(_.dataUtf8) == Seq("fail"),
      "added fail sink and fail dest must receive the failed row")
    // a live fail-sink rewire must fail fast on an unaddressable failDest —
    // the same guard start() applies, or the rewire could poison the next
    // dead-letter write
    intercept[IllegalArgumentException](
      bus.withFailSink(new FileAdapters.ParquetDirSink(
        Files.createTempDirectory("rwdlq").toString), Some("bad*dest")))
    bus.flushAndClose(10000)
  }

  test("table replay source streams an existing parquet table as messages") {
    val sink = new MemorySink
    val bus = new FrizzleStream(spark,
      new TableReplaySource(s"$sfDir/documents.parquet",
        idCol = "doc_id", tsExpr = "timestamp('2024-01-01 00:00:00')"),
      FrizzleStream.exprProcessor(dest = lit("replay"), failed = lit(false)),
      sink,
      checkpointDir = Some(Files.createTempDirectory("replay_ck").toString))
      .start()
    bus.awaitIdle()
    bus.flushAndClose(15000)
    val expected = graft.ops.tbl(spark, sfDir, "documents").count()
    val got = sink.sent("replay")
    assert(got.size.toLong == expected, "every table row becomes one message")
    // payload is the JSON row — fields survive the trip
    assert(got.forall(m => m.dataUtf8.contains("\"doc_id\"") &&
      m.dataUtf8.contains("\"text\"")))
  }

  test("registerTables makes the fixtures SQL-queryable") {
    Graft.registerTables(spark, sfDir)
    assert(spark.sql("SELECT COUNT(*) FROM lineitem").as[Long].head() > 0)
    // events view carries the ns→µs normalized timestamp
    assert(spark.sql("SELECT MAX(ts) FROM events").head().get(0) != null)
  }

  test("rate source generates load through the bus") {
    val sink = new MemorySink
    val bus = new FrizzleStream(spark, new RateSource(rowsPerSecond = 100),
      FrizzleStream.exprProcessor(dest = lit("load"), failed = lit(false)),
      sink,
      checkpointDir = Some(Files.createTempDirectory("rate_bus_ck").toString))
      .start()
    val deadline = System.currentTimeMillis() + 30000
    while (bus.stats.rcv.get == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    bus.flushAndClose(10000)
    assert(bus.stats.rcv.get > 0, "rate source must generate messages")
    assert(sink.sent("load").nonEmpty)
  }

  test("CSV source feeds the bus (base64 payloads)") {
    val inDir = Files.createTempDirectory("csv_in").toString
    val b64 = java.util.Base64.getEncoder
    Seq(
      s""""1","${b64.encodeToString("abc".getBytes)}","2024-01-01T00:00:00Z"""",
      s""""2","${b64.encodeToString("DEF".getBytes)}","2024-01-01T00:00:01Z"""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(inDir)

    val sink = new MemorySink
    val bus = new FrizzleStream(spark, new CsvDirSource(inDir),
      FrizzleStream.exprProcessor(
        dest = when(col("data").cast("string").rlike("^[a-z]+$"), "lower"),
        failed = lit(false)),
      sink,
      checkpointDir = Some(Files.createTempDirectory("csv_ck").toString))
      .start()
    bus.awaitIdle()
    bus.flushAndClose(10000)
    assert(sink.sent("lower").map(_.dataUtf8) == Seq("abc"))
    assert(bus.stats.snapshot("rcv") == 2)
  }

  test("JSON-lines source feeds the bus (base64 payloads)") {
    val inDir = Files.createTempDirectory("json_in").toString
    val b64 = java.util.Base64.getEncoder
    Seq(
      s"""{"id":"1","data_b64":"${b64.encodeToString("abc".getBytes)}","ts":"2024-01-01T00:00:00Z"}""",
      s"""{"id":"2","data_b64":"${b64.encodeToString("DEF".getBytes)}","ts":"2024-01-01T00:00:01Z"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(inDir)

    val sink = new MemorySink
    val bus = new FrizzleStream(spark, new JsonDirSource(inDir),
      FrizzleStream.exprProcessor(
        dest = when(col("data").cast("string").rlike("^[a-z]+$"), "lower"),
        failed = lit(false)),
      sink,
      checkpointDir = Some(Files.createTempDirectory("json_ck").toString))
      .start()
    bus.awaitIdle()
    bus.flushAndClose(10000)
    assert(sink.sent("lower").map(_.dataUtf8) == Seq("abc"))
    assert(bus.stats.snapshot("rcv") == 2)
  }
}
