package graft

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming._

/** `AnalyticsPipeline.tradeStats` over a table read aggregates only the
  * batches committed since its last call on that table. After every step
  * its result and schema must equal the plain query over the same
  * DataFrame; the rows it scans show which path ran. */
class TradeStatsSpec extends SparkSpec {
  private val allRequired = Seq("trade_id", "symbol", "price", "qty", "side", "ts_event")

  private def ingest(work: String, rows: DataFrame, required: Seq[String] = allRequired): Unit = {
    FileTopic(s"$work/topic").publish(Topics.envelope(rows, "trade_id"))
    IngestJob.start(spark, FileTopic(s"$work/topic"), s"$work/table", AnalyticsPipeline.tradeSchema,
      required, "ts_event", s"$work/ckpt", Trigger.AvailableNow()).awaitTermination()
  }

  private def trades(n: Long, seed: Long): DataFrame = TradeGen.trades(spark, n, seed)

  /** `body`'s result and the rows its Spark tasks read. */
  private def rowsRead[A](body: => A): (A, Long) = {
    val read = new AtomicLong
    val a = listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    })(body)
    (a, read.get)
  }

  private def sorted(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq).sortBy(r => String.valueOf(r.head))

  /** `stats`, tradeStats of `t`, against the plain query over `t`: the
    * same schema and rows, in `total_volume DESC` order, nulls last. */
  private def assertPlain(t: DataFrame, stats: DataFrame, rows: Array[Row]): Unit = {
    val plain = AnalyticsPipeline.query(t)
    assert(stats.schema == plain.schema)
    assert(sorted(rows) == sorted(plain.collect()))
    val vols = rows.toSeq.map(r => if (r.isNullAt(5)) None else Some(r.getLong(5)))
    assert(vols.flatten == vols.flatten.sorted.reverse && vols.dropWhile(_.isDefined).forall(_.isEmpty),
      "total_volume DESC, nulls last")
  }

  /** tradeStats of a fresh read of `table`, checked against the plain query
    * over the same DataFrame; returns the rows the call read. */
  private def check(table: String): Long = {
    val t = IngestJob.readTable(spark, table)
    val (stats, read) = rowsRead(AnalyticsPipeline.tradeStats(t))
    val (rows, jobs) = jobsDuring(stats.collect())
    assert(jobs == 0, "the result is local")
    assertPlain(t, stats, rows)
    read
  }

  private def tableRows(table: String): Long = IngestJob.readTable(spark, table).count()

  /** The Spark jobs `body` starts and the task count of each stage. */
  private def stageTasks[A](body: => A): (Int, Seq[Int]) = {
    val (jobs, stages) = (new AtomicLong, new java.util.concurrent.ConcurrentLinkedQueue[Int]())
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.add(e.stageInfo.numTasks)
    })(body)
    (jobs.get.toInt, stages.asScala.toSeq)
  }

  test("consecutive ingests: each call reads only the new batch, in one job of one task") {
    val work = tmpDir("graft-stats-seq")
    val table = s"$work/table"
    ingest(work, trades(300, 1))
    assert(check(table) == 300L)
    for (seed <- 2 to 4) {
      ingest(work, trades(100 * seed, seed))
      val t = IngestJob.readTable(spark, table)
      // without AQE, as the latency profile runs it (AQE runs each shuffle
      // stage as a job of its own)
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (jobs, stages) = try stageTasks(AnalyticsPipeline.tradeStats(t))
        finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      assert(jobs == 1 && stages == Seq(1), stages)
      ingest(work, trades(50, 10 + seed))
      assert(check(table) == 50L)
    }
    // no new batch: nothing to read, no job
    val (_, jobs) = jobsDuring(AnalyticsPipeline.tradeStats(IngestJob.readTable(spark, table)))
    assert(jobs == 0)
    assert(check(table) == 0L)
  }

  test("first call on a table that already has history: one full pass, then increments") {
    val work = tmpDir("graft-stats-history")
    val table = s"$work/table"
    (1 to 3).foreach(s => ingest(work, trades(200, s)))
    assert(check(table) == 600L)
    ingest(work, trades(70, 9))
    assert(check(table) == 70L)
  }

  test("compaction and expiry between calls keep the state; a compaction of an unfolded batch re-seeds") {
    val work = tmpDir("graft-stats-compact")
    val table = s"$work/table"
    ingest(work, trades(200, 1)); assert(check(table) == 200L)
    ingest(work, trades(100, 2)); assert(check(table) == 100L)
    ingest(work, trades(100, 3)); assert(check(table) == 100L)
    assert(Maintenance.compact(spark, table).isDefined)
    assert(check(table) == 0L)
    assert(Maintenance.expireSnapshots(table).size == 3)
    ingest(work, trades(60, 4)); assert(check(table) == 60L)
    // batch 4 lands unread, then a compaction takes it in with folded ones
    ingest(work, trades(40, 5))
    assert(Maintenance.compact(spark, table).get.replaced.contains(4L))
    assert(check(table) == tableRows(table))
    ingest(work, trades(30, 6)); assert(check(table) == 30L)
  }

  test("a read whose batch a compaction and expiry removed fails as the plain query does") {
    val work = tmpDir("graft-stats-stale")
    val table = s"$work/table"
    ingest(work, trades(100, 1)); assert(check(table) == 100L)
    ingest(work, trades(100, 2))
    val stale = IngestJob.readTable(spark, table)
    assert(Maintenance.compact(spark, table).get.replaced == Seq(0L, 1L))
    assert(Maintenance.expireSnapshots(table) == Seq(0L, 1L))
    intercept[Exception](AnalyticsPipeline.query(stale).collect())
    intercept[Exception](AnalyticsPipeline.tradeStats(stale).collect())
    // the state still covers batch 0 only, which the compaction took in
    // with batch 1: the next call re-seeds
    ingest(work, trades(50, 3))
    assert(check(table) == 250L)
    ingest(work, trades(20, 4)); assert(check(table) == 20L)
  }

  test("a table re-created at the same path re-seeds") {
    val work = tmpDir("graft-stats-recreate")
    val table = s"$work/table"
    ingest(work, trades(100, 1)); assert(check(table) == 100L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    // the same log line as before, over other rows
    ingest(work, trades(100, 2))
    assert(check(table) == 100L)
  }

  test("a torn write replayed by the next trigger is counted once") {
    val work = tmpDir("graft-stats-torn")
    val table = s"$work/table"
    ingest(work, trades(100, 1)); assert(check(table) == 100L)
    // the writer died after writing batch 1's files, before its commit line
    val torn = java.nio.file.Paths.get(CommitLog.batchDir(table, 1L))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(CommitLog.batchDir(table, 0L)), torn.toFile)
    assert(check(table) == 0L)
    ingest(work, trades(80, 2))
    assert(tableRows(table) == 180L)
    assert(check(table) == 80L)
  }

  test("a batch whose every row is rejected adds nothing") {
    import spark.implicits._
    val work = tmpDir("graft-stats-reject")
    val table = s"$work/table"
    ingest(work, trades(100, 1)); assert(check(table) == 100L)
    FileTopic(s"$work/topic").publish(Seq(("k1", "{not json"), ("k2", """{"trade_id":"t2"}"""))
      .toDF("key", "value"))
    IngestJob.start(spark, FileTopic(s"$work/topic"), table, AnalyticsPipeline.tradeSchema,
      allRequired, "ts_event", s"$work/ckpt", Trigger.AvailableNow()).awaitTermination()
    assert(CommitLog.commits(table).last == CommitLog.Commit(1L, 0L, 2L))
    assert(check(table) == 0L)
    ingest(work, trades(40, 2)); assert(check(table) == 40L)
  }

  test("null price, qty, side and symbol merge as Spark's aggregates carry them") {
    val work = tmpDir("graft-stats-nulls")
    val table = s"$work/table"
    val required = Seq("trade_id", "ts_event")
    // one symbol's price, qty and side are all null in the first batch only
    def holes(n: Long, seed: Long, allNull: Boolean) = trades(n, seed)
      .withColumn("symbol", when(col("trade_id").endsWith("7"), lit(null)).otherwise(col("symbol")))
      .withColumn("price", when(col("trade_id").endsWith("3") ||
        (lit(allNull) && col("symbol") === "MSFT"), lit(null)).otherwise(col("price")))
      .withColumn("qty", when(col("trade_id").endsWith("5") ||
        (lit(allNull) && col("symbol") === "MSFT"), lit(null)).otherwise(col("qty")))
      .withColumn("side", when(col("trade_id").endsWith("1") ||
        (lit(allNull) && col("symbol") === "MSFT"), lit(null)).otherwise(col("side")))
    ingest(work, holes(300, 1, allNull = true), required)
    val first = AnalyticsPipeline.tradeStats(IngestJob.readTable(spark, table)).collect()
    val msft = first.find(_.getString(0) == "MSFT").get
    assert(msft.isNullAt(2) && msft.isNullAt(5), "an all-null group has null price and volume")
    assert(first.exists(_.isNullAt(0)), "a null symbol is a group")
    assert(check(table) == 0L)
    ingest(work, holes(200, 2, allNull = false), required); assert(check(table) == 200L)
    ingest(work, holes(100, 3, allNull = true), required); assert(check(table) == 100L)
  }

  test("a MOR merge and a COW merge between calls re-seed, with equal results") {
    val work = tmpDir("graft-stats-merge")
    val table = s"$work/table"
    ingest(work, trades(100, 1)); ingest(work, trades(100, 2))
    assert(check(table) == 200L)
    val t = IngestJob.readTable(spark, table)
    def updates(price: Double) = t.orderBy("trade_id").limit(3).withColumn("price", lit(price))
    Maintenance.mergeIntoMor(spark, table, updates(9999.0), "trade_id", "ts_event")
    assert(check(table) >= tableRows(table))
    ingest(work, trades(50, 3)); assert(check(table) == 50L)
    Maintenance.mergeInto(spark, table, updates(1.0), "trade_id", "ts_event")
    assert(check(table) >= tableRows(table))
    ingest(work, trades(20, 4)); assert(check(table) == 20L)
  }

  test("two threads on one table") {
    val work = tmpDir("graft-stats-threads")
    val table = s"$work/table"
    ingest(work, trades(100, 1))
    for (round <- 2 to 4) {
      ingest(work, trades(50, round))
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 2).map(_ => new Thread(() =>
        try (1 to 2).foreach { _ =>
          val t = IngestJob.readTable(spark, table)
          val stats = AnalyticsPipeline.tradeStats(t)
          assertPlain(t, stats, stats.collect())
        } catch { case e: Throwable => errors.add(e) }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, errors.toString)
    }
  }

  test("inputs that are not a table read run the plain query when the caller runs it") {
    val work = tmpDir("graft-stats-plain")
    val table = s"$work/table"
    ingest(work, trades(100, 1))
    for (input <- Seq(IngestJob.readTable(spark, table).filter(col("price") > 0),
        spark.read.format("graft").load(table))) {
      assert(IngestJob.readOf(input).isEmpty)
      val (stats, jobs) = jobsDuring(AnalyticsPipeline.tradeStats(input))
      assert(jobs == 0)
      assert(sorted(stats.collect()) == sorted(AnalyticsPipeline.query(input).collect()))
    }
    val stream = FileTopic(s"$work/topic").readStream(spark)
      .select(from_json(col("value"), AnalyticsPipeline.tradeSchema).as("t")).select("t.*")
    assert(AnalyticsPipeline.tradeStats(stream).isStreaming)
  }
}
