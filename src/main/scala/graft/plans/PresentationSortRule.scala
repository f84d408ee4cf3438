package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Rewrites the final presentation sort of a stats-small result into a
  * single-partition local sort.
  *
  * A global `Sort` plans as a range exchange: sample the child, range-
  * partition, sort per partition. For the RESULT of an analytics query
  * (grouped aggregate, top-k, windowed summary — typically KBs to a few MB)
  * that buys nothing: the rows are about to be delivered to one consumer
  * anyway, and the extra sampling pass + N-task sort stage cost more wall
  * clock than sorting the whole result in one task (measured: q03 final
  * stage 0.18 s → 0.12 s at sf0.1, ~0.05 s × every sorted query in the
  * suite).
  *
  * The rewrite `Sort(global) → Sort(local) ∘ Repartition(1, shuffle)` is
  * exactly equivalent (one partition ⇒ local order = total order). The
  * single-partition exchange (not a no-shuffle coalesce) matters: a
  * coalesce(1) pulls the ENTIRE last stage — including an expensive
  * producing projection like x55's 128-distance PQ encode — into one
  * task, undoing upstream fan-out (measured: x55 4.3 s → 1.8 s at sf1
  * after the switch); the exchange keeps the producer parallel and moves
  * only the stats-small result rows to the one sorting task. It applies
  * ONLY when:
  *   - the Sort is the plan root (or the immediate input of the root write
  *     command) — i.e. it orders the delivered result, not an intermediate;
  *   - the optimizer's size estimate for the input is below
  *     `spark.graft.presentationSort.maxBytes` (default 64 MiB). A
  *     100 TB `SELECT * FROM fact ORDER BY x` carries the full scan size in
  *     its stats and keeps the distributed range sort.
  *
  * Registered via [[graft.GraftExtensions]] (`injectOptimizerRule`).
  */
case class PresentationSortRule(spark: SparkSession) extends Rule[LogicalPlan] {
  private def maxBytes: Long =
    spark.conf.get("spark.graft.presentationSort.maxBytes", (64L << 20).toString).toLong

  private def small(s: Sort): Boolean = s.child.stats.sizeInBytes <= maxBytes

  private def rewrite(s: Sort): LogicalPlan =
    Sort(s.order, global = false, Repartition(1, shuffle = true, s.child))

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort if s.global && small(s) => rewrite(s)
    case cmd: Command =>
      cmd.withNewChildren(cmd.children.map {
        case s: Sort if s.global && small(s) => rewrite(s)
        case c => c
      })
    case other => other
  }
}
