package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory of SURVEY.md §2 (Q1–Q34 oracle
  * contract + x-prefixed north-star extensions); `oracleSql` carries the
  * DuckDB twin for every SQL-expressible entry. Keys without an oracle get
  * the driver's rows-only check (approximate/hash-seeded operators).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001 — the reference's canonical
    * 10-aggregate analytics query (duckdb/query_and_publish.py:107-122)
    * transplanted onto events. Driver smoke-checks rows>0.
    *
    * The one surface that takes the caller's session rather than one from
    * [[Engine.builder]], so it sets the one engine conf the read needs:
    * `events.ts` is TIMESTAMP(NANOS), which Spark 4 rejects unless read as
    * raw nanos (see [[Tables.t]]). An NTZ column needs nothing here:
    * `Tables.t` casts it whatever the session infers. */
  def entry(spark: SparkSession): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    CoreQueries.q01(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++
      BenchmarkQueries.queries ++
      JoinQueries.queries ++
      WindowQueries.queries ++
      ScalarQueries.queries ++
      VectorQueries.queries ++
      TextQueries.queries ++
      DedupQueries.queries ++
      TemporalQueries.queries ++
      MultimodalQueries.queries ++
      UdfQueries.queries ++
      AdvancedQueries.queries ++
      Quantizers.queries ++
      SamplingQueries.queries ++
      PivotQueries.queries ++
      CurationQueries.queries ++
      LmQueries.queries ++
      NoveltyQueries.queries ++
      StatsQueries.queries ++
      IvmQueries.queries ++
      MiningQueries.queries ++
      StreamReplayQueries.queries

  /** DuckDB-dialect twin for each oracle-checkable query key. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++
      BenchmarkQueries.oracles ++
      JoinQueries.oracles ++
      WindowQueries.oracles ++
      ScalarQueries.oracles ++
      VectorQueries.oracles ++
      TextQueries.oracles ++
      DedupQueries.oracles ++
      TemporalQueries.oracles ++
      MultimodalQueries.oracles ++
      UdfQueries.oracles ++
      AdvancedQueries.oracles ++
      Quantizers.oracles ++
      SamplingQueries.oracles ++
      PivotQueries.oracles ++
      CurationQueries.oracles ++
      LmQueries.oracles ++
      NoveltyQueries.oracles ++
      StatsQueries.oracles ++
      IvmQueries.oracles ++
      MiningQueries.oracles ++
      StreamReplayQueries.oracles
}
