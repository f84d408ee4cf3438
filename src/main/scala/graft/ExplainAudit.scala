package graft

/** Plan audit over every SparkEntry query: flags the anti-patterns the 100 TB
  * mandate forbids (unexpected cartesian products, nested-loop joins off the
  * broadcast path, and a root global sort: a distributed range sort of the
  * result that [[graft.plans.PresentationSortRule]] left in place because
  * the input is estimated too big for one task). One line per query.
  * Usage: runMain graft.ExplainAudit [sfDir]
  */
object ExplainAudit {
  // queries where a BroadcastNestedLoopJoin/cartesian is the intended shape
  // (explicit all-pairs or scalar-broadcast crossJoin)
  private val intendedCross = Set(
    "q29_cosine_topk", "x20_cosine_neardup", "x22_ann_ivf", "q37_in_subquery",
    "x23_multi_query_topk", // corpus × broadcast query-vector sweep, as q29
    "x29_ann_recall", // exact-side brute force is the same q29/x23 sweep
    "x87_sq8_search", // same broadcast-queries sweep; =!= self-exclusion makes it non-equi
    // probe >= min AND probe <= max against the BROADCAST 3×64-row file-stats
    // table: a range-predicate NLJ whose build side is bounded by layouts ×
    // files by construction — the file-skipping replay itself
    "x100_zorder_audit")

  /** A BroadcastNestedLoopJoin is benign when its broadcast side IS a
    * global (no-grouping-key) aggregate: provably ONE row, so the "nested
    * loop" is a single pass over the stream side — the scalar-subquery /
    * broadcast-stats shape (x34's corpus df/avgdl row). The aggregate must
    * be the TOP data-shaping node of the build side, walking through
    * exchanges, codegen wrappers, row-count-preserving Projects, and
    * row-count-NON-INCREASING Filters (Catalyst inserts an isnotnull
    * Filter above the aggregate when the join condition is
    * null-intolerant; ≤1 row stays ≤1 row) — NOT Join/Generate/Expand: a
    * build side that aggregates to one row and then RE-EXPANDS above the
    * aggregate is a real O(N×M) NLJ and must flag. Any other NLJ is an
    * O(N×M) comparison loop and gets flagged. */
  private[graft] def allNljSingleRowBuild(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{SparkPlan, ProjectExec, InputAdapter, WholeStageCodegenExec, ColumnarToRowExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    // SparkPlan.collect stops at AQE boundaries (QueryStageExec is a leaf
    // wrapping its stage; AdaptiveSparkPlanExec wraps the current plan) —
    // flatten through them explicitly.
    def flatten(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    // True iff the first node that changes row count/content on the way down
    // is a global aggregate (then one row provably reaches the join build).
    def topIsSingleRowAgg(n: SparkPlan): Boolean = n match {
      case a: AdaptiveSparkPlanExec => topIsSingleRowAgg(a.executedPlan)
      case q: QueryStageExec => topIsSingleRowAgg(q.plan)
      case r: ReusedExchangeExec => topIsSingleRowAgg(r.child)
      case e: Exchange => topIsSingleRowAgg(e.child)
      case w: WholeStageCodegenExec => topIsSingleRowAgg(w.child)
      case i: InputAdapter => topIsSingleRowAgg(i.child)
      case c: ColumnarToRowExec => topIsSingleRowAgg(c.child)
      case p: ProjectExec => topIsSingleRowAgg(p.child)
      case f: org.apache.spark.sql.execution.FilterExec => topIsSingleRowAgg(f.child)
      case a: HashAggregateExec => a.groupingExpressions.isEmpty
      case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
      case a: SortAggregateExec => a.groupingExpressions.isEmpty
      case _ => false
    }
    val nljs = flatten(p).collect { case j: BroadcastNestedLoopJoinExec => j }
    nljs.nonEmpty && nljs.forall { j =>
      val build = j.buildSide match {
        case BuildRight => j.right
        case BuildLeft => j.left
      }
      topIsSingleRowAgg(build)
    }
  }

  /** The plan's root, through AQE and codegen wrappers, is a global
    * `SortExec`: a range exchange plus a sort per partition, to order the
    * delivered result. */
  private[graft] def rootGlobalSort(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => rootGlobalSort(a.executedPlan)
      case q: QueryStageExec => rootGlobalSort(q.plan)
      case w: WholeStageCodegenExec => rootGlobalSort(w.child)
      case i: InputAdapter => rootGlobalSort(i.child)
      case s: SortExec => s.global
      case _ => false
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val physical = fn(spark, sfDir).queryExecution.executedPlan
        val plan = physical.toString
        val flags = Seq(
          // a plan-level cartesian (not the broadcast variant) never survives scale
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          // nested-loop join anywhere we didn't explicitly choose an
          // all-pairs sweep and the build side isn't a provable single row
          "NestedLoop" -> (plan.contains("BroadcastNestedLoopJoin") &&
            !intendedCross(name) && !allNljSingleRowBuild(physical)),
          "GlobalSort" -> rootGlobalSort(physical)
        ).filter(_._2).map(_._1)
        if (flags.nonEmpty) { flagged += 1; println(s"[audit] $name: ${flags.mkString(",")}") }
        else println(s"[audit] $name: ok")
      } catch { case e: Throwable =>
        flagged += 1; println(s"[audit] $name: ERROR ${e.getMessage.take(120)}")
      } finally
        // building an eager key pins its checkpoints: release them per key
        Engine.reapLocalCheckpoints(spark)
    }
    println(s"[audit] flagged: $flagged")
    spark.stop()
  }
}
