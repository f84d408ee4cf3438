package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's trade row (`validation/e2e.sh:67-83` JSON Schema;
  * generator domains `redpanda/producer.py:19-49`). */
case class Trade(
    trade_id: String,
    symbol: String,
    price: Double,
    qty: Int,
    side: String,
    ts_event: Timestamp,
    notes: Option[String])

/** The reference's analytics row (`validation/e2e.sh:86-105`;
  * `duckdb/query_and_publish.py:128-137`). */
case class TradeAnalytics(
    symbol: String,
    trade_count: Long,
    avg_price: Double,
    min_price: Double,
    max_price: Double,
    total_volume: Long,
    buy_count: Long,
    sell_count: Long,
    first_trade_time: String,
    last_trade_time: String)

/** A1 — deterministic trade generator (SURVEY §2.1 A1). The reference seeds
  * Python's RNG (`producer.py:74-78`); per SURVEY, the determinism contract
  * is per-engine, so ours derives every field from the row index through a
  * splitmix-style mix — identical on every executor, every run, and fully
  * DISTRIBUTED: `spark.range` partitions the index space, each field is a
  * codegen'd column expression, no driver-side loop (generates 10^12 rows as
  * happily as 10^4).
  */
object TradeGen {
  val symbols = Seq("AAPL", "GOOGL", "MSFT", "AMZN", "TSLA", "NVDA", "META", "BRK.B")
  val baseEpoch = 1736935200L // 2025-01-15T10:00:00Z (producer.py:78)

  def trades(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    val id = col("id")
    // one 64-bit hash per (row, field) pair; pmod (not abs) for
    // non-negativity — abs(Long.MinValue) is negative
    def h(field: Int) = pmod(xxhash64(id, col("seed"), lit(field)), lit(Long.MaxValue))
    val symbolArr = array(symbols.map(lit): _*)
    spark.range(0, n)
      // the seed enters as a UDF's value, not a literal: generated code
      // inlines a literal, so every new seed would compile new classes;
      // the hash input (a non-null long) is the same either way
      .select(id, udf(() => seed).apply().as("seed"))
      .select(
        // UUID-shaped deterministic id from the index (producer.py:26)
        concat_ws("-",
          lpad(hex(h(0) % 0xFFFFFFFFL), 8, "0"),
          lpad(hex(h(1) % 0xFFFFL), 4, "0"),
          lpad(hex(h(2) % 0xFFFFL), 4, "0"),
          lpad(hex(h(3) % 0xFFFFL), 4, "0"),
          lpad(hex(h(4) % 0xFFFFFFFFFFFFL), 12, "0")).as("trade_id"),
        element_at(symbolArr, (h(5) % 8 + 1).cast("int")).as("symbol"),
        // round(uniform(50,500),2) analog (producer.py:29)
        (floor((h(6) % 45000L).cast("double") + 5000.0) / 100.0).as("price"),
        (h(7) % 1000 + 1).cast("int").as("qty"),
        when(h(8) % 2 === 0, "BUY").otherwise("SELL").as("side"),
        // base + i seconds (producer.py:34-36)
        timestamp_seconds(lit(baseEpoch) + id).as("ts_event"),
        // 100-char padding to defeat compression (producer.py:37-39)
        substring(repeat(concat(hex(h(9)), hex(h(10)), hex(h(11))), 3), 1, 100).as("notes"))
  }

  /** Producer path: trades → topic, keyed by trade_id (producer.py:98-99). */
  def produce(spark: SparkSession, sink: TopicSink, n: Long, seed: Long = 42L): Unit =
    sink.publish(Topics.envelope(trades(spark, n, seed), "trade_id"))
}
