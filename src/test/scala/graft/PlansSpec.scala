package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning

/** PresentationSortRule + Tables cache/spread behavior. The shared engine
  * session carries the rule (GraftExtensions); a session with the stats
  * gate shut is the no-rule baseline. */
class PlansSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def gateShut() = {
    val s = spark.newSession()
    s.conf.set("spark.graft.presentationSort.maxBytes", "1")
    s
  }

  test("NLJ audit: exemption requires the single-row aggregate at the TOP of the build side") {
    import spark.implicits._
    val facts = (1 to 100).toDF("x")
    val dims = (1 to 50).toDF("y")
    // benign: build side IS a global aggregate (provably one row); a
    // row-preserving Project above it must not break the exemption
    val benign = facts.crossJoin(
      broadcast(dims.agg(avg(col("y")).as("m")).select((col("m") * 2).as("m2"))))
    assert(ExplainAudit.allNljSingleRowBuild(benign.queryExecution.executedPlan),
      benign.queryExecution.executedPlan.toString)
    // the advisory case: build side aggregates to one row and then
    // RE-EXPANDS above the aggregate — a real O(N×M) NLJ, must flag
    val reExpanded = facts.crossJoin(
      broadcast(dims.agg(avg(col("y")).as("m")).crossJoin(dims)))
    assert(!ExplainAudit.allNljSingleRowBuild(reExpanded.queryExecution.executedPlan),
      reExpanded.queryExecution.executedPlan.toString)
    // plain multi-row build: flags
    val plain = facts.crossJoin(broadcast(dims))
    assert(!ExplainAudit.allNljSingleRowBuild(plain.queryExecution.executedPlan))
  }

  test("global-sort audit: flags the root range sort the rule leaves, not a rewritten one") {
    val small = Tables.t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("c"))
      .orderBy(col("l_returnflag"))
    assert(!ExplainAudit.rootGlobalSort(small.queryExecution.executedPlan),
      small.queryExecution.executedPlan.toString)
    // planned, never run: a billion rows are over the rule's size gate
    val big = spark.range(1000000000L).orderBy(desc("id"))
    assert(ExplainAudit.rootGlobalSort(big.queryExecution.executedPlan),
      big.queryExecution.executedPlan.toString)
  }

  test("small root sort becomes a single-partition local sort") {
    val df = Tables.t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("c"))
      .orderBy(col("l_returnflag"))
    val opt = df.queryExecution.optimizedPlan
    val sorts = opt.collect { case so: Sort => so }
    assert(sorts.nonEmpty && sorts.forall(!_.global), s"expected local sort, got:\n$opt")
    assert(opt.collect { case r: Repartition => r }.exists(_.numPartitions == 1))
    // the single partition must come from an EXCHANGE, not a no-shuffle
    // coalesce: coalesce(1) would pull the producing stage into one task
    // (the x55 regression the round-7 rule fix removed)
    assert(opt.collect { case r: Repartition if r.numPartitions == 1 => r }
      .forall(_.shuffle), "presentation sort must repartition WITH shuffle")
    // physical plan: no range-partitioned exchange for the presentation
    // sort (collect walks into the adaptive plan)
    val rangeEx = collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(rangeEx.isEmpty)
  }

  test("rewritten sort returns identical rows in identical order") {
    def q(sess: org.apache.spark.sql.SparkSession) =
      Tables.t(sess, sfDir, "orders")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("o_orderpriority"))
    val rewritten = q(spark)
    val baseline = q(gateShut())
    assert(rewritten.queryExecution.optimizedPlan.collect { case so: Sort => so }.forall(!_.global))
    assert(baseline.queryExecution.optimizedPlan.collect { case so: Sort => so }.exists(_.global))
    assert(rewritten.collect().toSeq == baseline.collect().toSeq)
  }

  test("stats gate: oversized input keeps the distributed range sort") {
    val df = Tables.t(gateShut(), sfDir, "lineitem").orderBy(col("l_orderkey"))
    val sorts = df.queryExecution.optimizedPlan.collect { case so: Sort => so }
    assert(sorts.nonEmpty && sorts.forall(_.global))
  }

  test("table cache: meta mode reuses the resolved DataFrame") {
    val s = spark.newSession() // fresh cache key
    s.conf.set("spark.graft.tableCache", "meta")
    assert(Tables.t(s, sfDir, "nation") eq Tables.t(s, sfDir, "nation"))
  }

  test("table cache: memory mode pins a persisted relation, same results") {
    val s = spark.newSession()
    s.conf.set("spark.graft.tableCache", "memory")
    val cached = Tables.t(s, sfDir, "lineitem")
    assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    val n = cached.count()
    s.conf.set("spark.graft.tableCache", "off")
    assert(n == Tables.t(s, sfDir, "lineitem").count())
    cached.unpersist()
  }

  test("spread raises partition count without changing rows") {
    val base = Tables.t(spark, sfDir, "documents")
    val sp = Tables.spread(base)
    assert(sp.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(sp.count() == base.count())
  }
}
