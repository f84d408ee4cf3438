package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.Tables.{fround, tsStr}

/** The reference's end-to-end bidirectional cycle (README.md:63-127,
  * CLAUDE.md:105-117), Spark-first:
  *
  *   producer → trades topic → ingest → trades table
  *     → canonical analytics query → analytics topic → ingest
  *     → trade_analytics table → re-query.
  *
  * Mirrors `validation/e2e.sh`'s flow with our FileTopic/IngestJob stand-ins
  * for Redpanda/Iceberg.
  */
object AnalyticsPipeline {

  val tradeSchema: StructType = StructType(Seq(
    StructField("trade_id", StringType), StructField("symbol", StringType),
    StructField("price", DoubleType), StructField("qty", IntegerType),
    StructField("side", StringType), StructField("ts_event", TimestampType),
    StructField("notes", StringType)))

  val analyticsSchema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("trade_count", LongType),
    StructField("avg_price", DoubleType), StructField("min_price", DoubleType),
    StructField("max_price", DoubleType), StructField("total_volume", LongType),
    StructField("buy_count", LongType), StructField("sell_count", LongType),
    StructField("first_trade_time", StringType), StructField("last_trade_time", StringType)))

  /** THE canonical query (duckdb/query_and_publish.py:107-122): the 10
    * aggregates per symbol, ordered by volume. Two paths give the same rows
    * and schema:
    *  - incremental, when `trades` is an [[IngestJob.readTable]] result
    *    whose aggregates merge exactly ([[mergeable]]): per-table, per-symbol
    *    partial state tied to the lineage prefix it covers is extended by
    *    the batches committed since ([[CommitLog.appendedSince]]). Only
    *    those are aggregated, from the files the read listed for them, in
    *    one Spark job of one task (a file deleted since fails the call as it
    *    fails `trades`); the state merges on the driver and [[outputs]]
    *    finalizes it. When the fold cannot extend the state (none yet, a
    *    MOR delete, a merge, a compaction that took in a batch the state
    *    lacks, an older read, a table re-created at the same path), one
    *    full pass over `trades` re-seeds it: partial aggregates in the scan's
    *    tasks, the final one in one task. Either way the job runs during
    *    this call, not at `collect()`: the result is a local DataFrame
    *    already in `total_volume DESC` order, whose `collect()` fires no job.
    *  - the plain [[query]], for any other input (a DataFrame derived from
    *    a table read, a `format("graft")` read, a stream): a two-phase hash
    *    aggregate whose only shuffled payload is one row per symbol, run
    *    when the caller runs it. */
  def tradeStats(trades: DataFrame): DataFrame =
    IngestJob.readOf(trades).flatMap(incremental(trades, _)).getOrElse(query(trades))

  /** The plain query: [[outputs]] over the aggregate expressions. */
  private[graft] def query(trades: DataFrame): DataFrame = {
    val out = outputs(partials.map(p => p.name -> p.agg).toMap)
    trades.groupBy(col("symbol")).agg(out.head, out.tail: _*).orderBy(desc("total_volume"))
  }

  /** One aggregate of the query over a set of rows, and how two disjoint
    * sets' values merge into their union's: counts and sums add, minima and
    * maxima fold, and a null (no non-null input) is the identity. */
  private final case class Partial(name: String, agg: Column, merge: Merge)
  private sealed trait Merge
  private case object Add extends Merge
  private case object Least extends Merge
  private case object Greatest extends Merge

  /** `n` and `psum` are Tables.davg's count and fixed-point sum. */
  private val partials = Seq(
    Partial("n", count(lit(1)), Add),
    Partial("psum", sum(round(col("price") * 1e6).cast("long")), Add),
    Partial("pmin", min(col("price")), Least),
    Partial("pmax", max(col("price")), Greatest),
    Partial("qsum", sum(col("qty")), Add),
    Partial("buys", count(when(col("side") === "BUY", 1)), Add),
    Partial("sells", count(when(col("side") === "SELL", 1)), Add),
    Partial("tmin", min(col("ts_event")), Least),
    Partial("tmax", max(col("ts_event")), Greatest))

  /** The output columns over the aggregates `p`: aggregate expressions in
    * the plain query, the merged state's columns on the incremental path. */
  private def outputs(p: String => Column): Seq[Column] = Seq(
    p("n").as("trade_count"),
    fround(p("psum") / lit(1e6) / p("n"), 2).as("avg_price"),
    round(p("pmin"), 2).as("min_price"),
    round(p("pmax"), 2).as("max_price"),
    p("qsum").cast("long").as("total_volume"),
    p("buys").as("buy_count"),
    p("sells").as("sell_count"),
    tsStr(p("tmin")).as("first_trade_time"),
    tsStr(p("tmax")).as("last_trade_time"))

  /** The [[partials]] of `rows` per symbol (symbol first), the final
    * aggregate in one task. */
  private def aggregate(rows: DataFrame): DataFrame = {
    val aggs = partials.map(p => p.agg.as(p.name))
    rows.groupBy(col("symbol")).agg(aggs.head, aggs.tail: _*).coalesce(1)
  }

  /** Whether the driver merges every column of `schema` exactly: sums and
    * counts as longs, minima and maxima of doubles or timestamps. */
  private def mergeable(schema: StructType): Boolean = partials.forall { p =>
    val t = schema(p.name).dataType
    if (p.merge == Add) t == LongType else t == DoubleType || t == TimestampType
  }

  private def merge(m: Merge, a: Any, b: Any): Any = (m, a, b) match {
    case (_, null, _) => b
    case (_, _, null) => a
    case (Add, x: Long, y: Long) => Math.addExact(x, y)
    case (_, x, y) =>
      val c = (x, y) match {
        case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
        case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
      }
      if ((m == Least) == (c <= 0)) x else y
  }

  /** A table's per-symbol aggregates (rows of `schema`, keyed by symbol)
    * over the rows visible after lineage prefix `base` of the log `log`
    * ([[CommitLog.identity]]: a table re-created at the same path re-seeds). */
  private final case class State(log: Option[String], base: Seq[CommitLog.Commit],
      schema: StructType, groups: Map[Any, Row])

  /** The last [[State]] of each of the [[MaxTables]] tables used last. */
  private val MaxTables = 64
  private val states = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, State](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, State]): Boolean =
        size > MaxTables
    })

  /** The incremental path; None when `trades`' aggregates do not merge
    * exactly. */
  private def incremental(trades: DataFrame, read: IngestJob.Read): Option[DataFrame] = {
    val spark = trades.sparkSession
    def seed() = Some(aggregate(trades)).filter(a => mergeable(a.schema))
      .map(a => State(read.log, read.prefix, a.schema, a.collect().map(r => r.get(0) -> r).toMap))
    val prior = Option(states.get(read.tableDir)).filter(_.log == read.log)
    val next = prior.flatMap(s => CommitLog.appendedSince(s.base, read.prefix).map(s -> _)) match {
      case Some((s, added)) =>
        // the files `trades` itself reads for the added batches (one that
        // wrote no rows lists none): a file deleted since fails the scan,
        // as it fails `trades`. Every live delete sits before `s.base` (the
        // fold refuses later ones), so none applies to these batches.
        val listed = added.map(read.files).filter(_._2.nonEmpty)
        if (listed.isEmpty) Some(s.copy(base = read.prefix))
        else {
          // one task scans and aggregates (a delta is the few triggers
          // committed between calls)
          val delta = aggregate(IngestJob.readListed(spark, read.tableDir, listed).coalesce(1))
          if (delta.schema != s.schema) seed()
          else Some(State(read.log, read.prefix, s.schema, delta.collect().foldLeft(s.groups) { (groups, d) =>
            val symbol = d.get(0)
            groups.updated(symbol, groups.get(symbol).fold(d)(o => Row.fromSeq(symbol +:
              partials.indices.map(i => merge(partials(i).merge, o.get(i + 1), d.get(i + 1))))))
          }))
        }
      case None => seed()
    }
    next.map { state =>
      states.put(read.tableDir, state)
      val stats = spark.createDataFrame(state.groups.values.toSeq.asJava, state.schema)
        .select(col("symbol") +: outputs(col): _*)
      val vol = stats.schema.fieldIndex("total_volume")
      val (nulls, volumes) = stats.collect().partition(_.isNullAt(vol))
      spark.createDataFrame((volumes.sortBy(_.getLong(vol))(Ordering.Long.reverse) ++ nulls).toSeq.asJava,
        stats.schema)
    }
  }

  /** Continuous form of the analytics stage (the reference's
    * query_and_publish loop, `duckdb/query_and_publish.py`, as a Structured
    * Streaming job): per trigger, recompute the per-symbol stats over the
    * stream's running state and republish the full snapshot — the
    * reference's republish-per-cycle behavior, 8 messages per trigger. */
  def startContinuousAnalytics(
      spark: SparkSession,
      source: graft.streaming.TopicSource,
      sink: graft.streaming.TopicSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) = {
    val parsed = source.readStream(spark)
      .select(from_json(col("value"), tradeSchema).as("data"))
      .select(col("data.*"))
      .filter(col("trade_id").isNotNull && col("symbol").isNotNull)
    tradeStats(parsed)
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink.publish(Topics.envelope(batch, "symbol"))
        ()
      }
      .start()
  }

  /** Run the whole cycle synchronously (Trigger.AvailableNow ≈ "catch up to
    * the 10 s snapshot lag, then stop" — the e2e's bounded waits,
    * `validation/e2e.sh:120-121`). Returns the re-queried analytics table. */
  def runCycle(spark: SparkSession, workDir: String, nTrades: Long, seed: Long = 42L): DataFrame = {
    val tradesTopic = FileTopic(s"$workDir/topics/trades")
    val analyticsTopic = FileTopic(s"$workDir/topics/trade_analytics")

    // 1. producer (A1+A2)
    TradeGen.produce(spark, tradesTopic, nTrades, seed)

    // 2. ingest trades topic → table (A3)
    val q1 = IngestJob.start(spark, tradesTopic, s"$workDir/tables/trades",
      tradeSchema, Seq("trade_id", "symbol", "price", "qty", "side", "ts_event"),
      "ts_event", s"$workDir/ckpt/trades", Trigger.AvailableNow())
    q1.awaitTermination()

    // 3. canonical analytics query over the table (B1–B14)
    val analytics = tradeStats(IngestJob.readTable(spark, s"$workDir/tables/trades"))

    // 4. publish analytics keyed by symbol (query_and_publish.py:169-179)
    analyticsTopic.publish(Topics.envelope(analytics, "symbol"))

    // 5. ingest analytics topic → table (the bidirectional hop)
    val q2 = IngestJob.start(spark, analyticsTopic, s"$workDir/tables/trade_analytics",
      analyticsSchema, Seq("symbol", "trade_count", "avg_price", "total_volume"),
      "first_trade_time", s"$workDir/ckpt/trade_analytics", Trigger.AvailableNow())
    q2.awaitTermination()

    // 6. re-query (e2e.sh:158-177)
    IngestJob.readTable(spark, s"$workDir/tables/trade_analytics")
  }
}
