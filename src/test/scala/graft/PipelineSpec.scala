package graft

import org.apache.spark.sql.functions._
import graft.streaming._

/** Tier-4 pipeline e2e (SURVEY §5.2): the reference's bidirectional cycle —
  * producer → topic → ingest → table → analytics → topic → ingest → table →
  * re-query (validation/e2e.sh re-expressed in Spark). */
class PipelineSpec extends SparkSpec {

  test("bidirectional cycle: 2000 trades -> 8 analytics rows -> re-ingested table") {
    val work = tmpDir("graft-pipeline")
    val n = 2000L
    val result = AnalyticsPipeline.runCycle(spark, work, n)

    // e2e.sh:147-148 — one analytics row per symbol
    assert(result.count() == 8L)
    val rows = result.collect()
    assert(rows.map(_.getAs[String]("symbol")).sorted.toSeq == TradeGen.symbols.sorted)

    // counts add back to the produced total (e2e.sh:161)
    assert(rows.map(_.getAs[Long]("trade_count")).sum == n)
    // buy+sell = total per group (B8 conditional counts)
    rows.foreach { r =>
      assert(r.getAs[Long]("buy_count") + r.getAs[Long]("sell_count") == r.getAs[Long]("trade_count"))
      assert(r.getAs[Double]("min_price") >= 50.0 && r.getAs[Double]("max_price") <= 500.0)
    }

    // the re-ingested analytics table round-trips the published query result
    val direct = AnalyticsPipeline.tradeStats(
      IngestJob.readTable(spark, s"$work/tables/trades"))
    val a = direct.orderBy("symbol").collect().map(_.toSeq)
    val b = result.select(direct.columns.map(col).toIndexedSeq: _*)
      .orderBy("symbol").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)

    // snapshot log committed exactly once per batch (exactly-once ingest)
    val batches = IngestJob.committedBatches(s"$work/tables/trades")
    assert(batches.nonEmpty)
  }

  test("two cycles in one work dir: the second, incremental analytics equal a fresh full computation") {
    val work = tmpDir("graft-pipeline-twice")
    AnalyticsPipeline.runCycle(spark, work, 1000L, seed = 1L)
    val result = AnalyticsPipeline.runCycle(spark, work, 1500L, seed = 2L)
    val trades = IngestJob.readTable(spark, s"$work/tables/trades")
    assert(trades.count() == 2500L)
    val full = AnalyticsPipeline.query(trades)
    val cols = full.columns.map(col).toIndexedSeq
    val latest = result.select(cols: _*).collect()
      .groupBy(_.getString(0)).values.map(_.maxBy(_.getLong(1)).toSeq).toSet
    assert(latest == full.collect().map(_.toSeq).toSet)
    assert(latest.toSeq.map(_(1).asInstanceOf[Long]).sum == 2500L)
  }

  test("ingest is idempotent: a replayed batch id is skipped") {
    val work = tmpDir("graft-idem")
    val topic = FileTopic(s"$work/topic")
    TradeGen.produce(spark, topic, 100L)
    val q = IngestJob.start(spark, topic, s"$work/table",
      AnalyticsPipeline.tradeSchema,
      Seq("trade_id", "symbol"), "ts_event", s"$work/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val n1 = IngestJob.readTable(spark, s"$work/table").count()
    // wipe the checkpoint (simulated lost offset state) and re-run: the
    // snapshot log must reject the replayed batch ids
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/ckpt"))
    val q2 = IngestJob.start(spark, topic, s"$work/table",
      AnalyticsPipeline.tradeSchema,
      Seq("trade_id", "symbol"), "ts_event", s"$work/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination()
    assert(IngestJob.readTable(spark, s"$work/table").count() == n1)
  }

  test("time travel: readTableAsOf(snapshot) sees only that snapshot's data") {
    val work = tmpDir("graft-tt")
    val topic = FileTopic(s"$work/topic")
    def ingest(): Unit = {
      val q = IngestJob.start(spark, topic, s"$work/table",
        AnalyticsPipeline.tradeSchema,
        Seq("trade_id", "symbol"), "ts_event", s"$work/ckpt",
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }
    TradeGen.produce(spark, topic, 100L, seed = 1L)
    ingest() // snapshot 0
    TradeGen.produce(spark, topic, 50L, seed = 2L)
    ingest() // snapshot 1
    assert(IngestJob.committedBatches(s"$work/table") == Set(0L, 1L))
    assert(IngestJob.readTableAsOf(spark, s"$work/table", 0L).count() == 100L)
    assert(IngestJob.readTableAsOf(spark, s"$work/table", 1L).count() == 150L)
    assert(IngestJob.readTable(spark, s"$work/table").count() == 150L)
    // unknown snapshot id is rejected
    intercept[IllegalArgumentException] {
      IngestJob.readTableAsOf(spark, s"$work/table", 99L)
    }
  }

  test("schema evolution: a column added in a later snapshot reads as null for older rows") {
    val work = tmpDir("graft-evo")
    val topic = FileTopic(s"$work/topic")
    import org.apache.spark.sql.types._
    val v2 = StructType(AnalyticsPipeline.tradeSchema.fields :+ StructField("venue", StringType))
    def ingest(schema: StructType): Unit = {
      val q = IngestJob.start(spark, topic, s"$work/table", schema,
        Seq("trade_id", "symbol"), "ts_event", s"$work/ckpt",
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }
    TradeGen.produce(spark, topic, 40L, seed = 1L)
    ingest(AnalyticsPipeline.tradeSchema) // snapshot 0: v1 schema
    // v2 producer includes a venue field
    val withVenue = TradeGen.trades(spark, 20L, seed = 2L)
      .withColumn("venue", org.apache.spark.sql.functions.lit("XNAS"))
    topic.publish(Topics.envelope(withVenue, "trade_id"))
    ingest(v2) // snapshot 1: v2 schema
    val table = IngestJob.readTable(spark, s"$work/table")
    assert(table.columns.contains("venue"))
    assert(table.count() == 60L)
    assert(table.filter(org.apache.spark.sql.functions.col("venue").isNull).count() == 40L)
    assert(table.filter(org.apache.spark.sql.functions.col("venue") === "XNAS").count() == 20L)
  }

  test("schema enforcement: rows missing required fields are rejected, not ingested") {
    val work = tmpDir("graft-reject")
    val topic = FileTopic(s"$work/topic")
    import spark.implicits._
    // 2 valid + 1 junk (unparseable) + 1 missing required symbol
    val good = TradeGen.trades(spark, 2L)
    topic.publish(Topics.envelope(good, "trade_id"))
    topic.publish(Seq(
      ("k3", "{not json at all"),
      ("k4", """{"trade_id":"t4","price":1.0}""")).toDF("key", "value"))
    val q = IngestJob.start(spark, topic, s"$work/table",
      AnalyticsPipeline.tradeSchema,
      Seq("trade_id", "symbol", "price"), "ts_event", s"$work/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    assert(IngestJob.readTable(spark, s"$work/table").count() == 2L)
    // reject count recorded in the snapshot log
    val log = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/table/_snapshots.jsonl"))
    assert(log.contains("\"rejects\":2"))
  }

  test("key_value mode: raw key/value blobs land verbatim with exactly-once commits") {
    val work = tmpDir("graft-kv")
    val topic = FileTopic(s"$work/topic")
    import spark.implicits._
    val rows = (1 to 50).map(i => (s"k$i", s"""{"payload":$i}"""))
    topic.publish(rows.toDF("key", "value"))
    val q = IngestJob.startKeyValue(spark, topic, s"$work/table", s"$work/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val got = IngestJob.readTable(spark, s"$work/table")
    // raw BLOB columns, no decode applied
    assert(got.schema("key").dataType == org.apache.spark.sql.types.BinaryType)
    assert(got.schema("value").dataType == org.apache.spark.sql.types.BinaryType)
    val back = got.collect().map(r => (
      new String(r.getAs[Array[Byte]]("key"), "UTF-8"),
      new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSet
    assert(back == rows.toSet)
    assert(IngestJob.committedBatches(s"$work/table").nonEmpty)
  }

  test("avro schema-id-prefix mode: per-id decode, mixed versions mid-batch, junk rejected") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val work = tmpDir("graft-avro")
    val topic = FileTopic(s"$work/topic")
    val registry = SchemaRegistry(s"$work/registry")
    val v1 = StructType(Seq(
      StructField("trade_id", LongType, nullable = false),
      StructField("symbol", StringType, nullable = false),
      StructField("price", DoubleType, nullable = false),
      StructField("ts_event", TimestampType, nullable = false)))
    val id1 = registry.register("trades", v1)
    val v2 = StructType(v1.fields.toIndexedSeq :+ StructField("venue", StringType, nullable = true))
    val id2 = registry.register("trades", v2)
    val av1 = AvroCodec.avroSchema("trades", v1)
    val av2 = AvroCodec.avroSchema("trades", v2)
    def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")

    val rows1 = (1 to 30).map(i =>
      (s"k$i", b64(AvroCodec.encode(Row(i.toLong, "AAPL", 100.5, ts), v1, av1, id1))))
    val rows2 = (31 to 50).map(i =>
      (s"k$i", b64(AvroCodec.encode(Row(i.toLong, "MSFT", 200.25, ts, "NYSE"), v2, av2, id2))))
    val junk = Seq(
      ("bad-magic", b64(Array[Byte](9, 9, 9, 9, 9, 9))),
      ("bad-id", b64(AvroCodec.encode(Row(99L, "X", 1.0, ts), v1, av1, 99))))
    import spark.implicits._
    topic.publish((rows1 ++ rows2 ++ junk).toDF("key", "value"))

    val q = IngestJob.startAvroWithRegistry(spark, topic, s"$work/table",
      registry, "trades", Seq("trade_id", "symbol"), "ts_event", s"$work/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()

    val got = IngestJob.readTable(spark, s"$work/table")
    assert(got.count() == 50L)
    // v1 rows read null for the v2-only column; v2 rows carry it
    assert(got.filter(col("venue").isNull).count() == 30L)
    assert(got.filter(col("venue") === "NYSE").count() == 20L)
    // value fidelity incl. microsecond timestamps through the avro long
    val r1 = got.filter(col("trade_id") === 1L).collect().head
    assert(r1.getAs[String]("symbol") == "AAPL" && r1.getAs[Double]("price") == 100.5)
    assert(r1.getAs[java.sql.Timestamp]("ts_event") == ts)
    // junk (wrong magic / unregistered id) → reject count, not rows
    val log = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/table/_snapshots.jsonl"))
    assert(log.contains("\"rejects\":2"), log)
  }

  private def startTrades(s: org.apache.spark.sql.SparkSession, work: String,
      topic: FileTopic, required: Seq[String] = Seq("trade_id", "symbol")) =
    IngestJob.start(s, topic, s"$work/table", AnalyticsPipeline.tradeSchema,
      required, "ts_event", s"$work/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())

  test("an AvailableNow ingest of a non-empty topic fires exactly one Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val work = tmpDir("graft-onejob")
    val topic = FileTopic(s"$work/topic")
    TradeGen.produce(spark, topic, 500L)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = startTrades(spark, work, topic)
      q.awaitTermination()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    // a streaming query runs its jobs under its run id as job group
    import scala.jdk.CollectionConverters._
    assert(groups.asScala.count(_ == q.runId.toString) == 1, groups)
    assert(q.recentProgress.map(_.numInputRows).sum == 500L, "the topic batch is read once")
    assert(IngestJob.readTable(spark, s"$work/table").count() == 500L)
  }

  test("a second ingest of the same shape compiles no code in an engine-configured session") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // the streaming query clones this session, as it clones an Engine one
    val s = spark.newSession()
    val work = tmpDir("graft-codegen")
    val topic = FileTopic(s"$work/topic")
    TradeGen.produce(s, topic, 200L, seed = 1L)
    startTrades(s, work, topic).awaitTermination()
    TradeGen.produce(s, topic, 200L, seed = 2L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    startTrades(s, work, topic).awaitTermination()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
    assert(IngestJob.committedBatches(s"$work/table") == Set(0L, 1L))
    assert(IngestJob.readTable(s, s"$work/table").count() == 400L)
  }

  test("TradeGen: a new seed compiles no code, and a seed's trades are pinned") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def envelope(seed: Long) = Topics.envelope(TradeGen.trades(spark, 50L, seed), "trade_id")
      .collect().map(r => s"${r.getString(0)}\t${r.getString(1)}").mkString("\n")
    envelope(1L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rendered = envelope(3L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
    // the topic messages of seed 3, as the generator rendered them when it
    // still inlined the seed as a literal
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(sha == "fabe799ce9c9112004e20d0d17deb477127ac6f981c5065ecbc9dcaf02106f5f", rendered.take(300))
  }

  test("a batch in which every row is rejected commits rows:0 and counts every reject") {
    val work = tmpDir("graft-allreject")
    val topic = FileTopic(s"$work/topic")
    import spark.implicits._
    topic.publish(Seq(
      ("k1", "{not json at all"),
      ("k2", """{"trade_id":"t2","price":1.0}"""),
      ("k3", """{"symbol":"AAPL","price":2.0}""")).toDF("key", "value"))
    startTrades(spark, work, topic, Seq("trade_id", "symbol", "price")).awaitTermination()
    val log = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/table/_snapshots.jsonl"))
    assert(log.trim == """{"batch":0,"rows":0,"rejects":3,"committed":true}""", log)
  }

  test("a table of 40 visible snapshots resolves with no Spark job and equals the mergeSchema read") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val table = s"${tmpDir("graft-resolve40")}/table"
    val trades = TradeGen.trades(spark, 400L, seed = 7L)
      .withColumn("batch", unix_seconds(col("ts_event")) % 40)
      .withColumn("p_date", to_date(col("ts_event")))
    // snapshots 0-19 predate the registry's `venue` column, 20-39 carry it
    trades.filter(col("batch") < 20)
      .write.partitionBy("batch", "p_date").parquet(s"$table/data")
    trades.filter(col("batch") >= 20).withColumn("venue", lit("XNAS"))
      .write.mode("append").partitionBy("batch", "p_date").parquet(s"$table/data")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$table/_snapshots.jsonl"),
      (0 until 40).map(b => s"""{"batch":$b,"rows":10,"rejects":0,"committed":true}\n""").mkString)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val resolved = try {
      val t = IngestJob.readTable(spark, table)
      t.queryExecution.executedPlan // resolved and planned, not run
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      t
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)

    val merged = spark.read.option("mergeSchema", "true").parquet(s"$table/data")
      .drop("p_date").drop("batch")
    assert(resolved.schema == merged.schema)
    assert(resolved.columns.last == "venue")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(rows(resolved) == rows(merged))
    assert(resolved.filter(col("venue").isNull).count() == 200L)
  }
}
