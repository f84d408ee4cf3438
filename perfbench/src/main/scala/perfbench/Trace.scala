package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExecSubqueryExpression, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `op` is the op index the
  * span belongs to (-1 outside any op); `parent` is the enclosing span's id
  * (-1 for a root). Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Spans and counters for the traced run.
  *
  * Every span tags the jobs it submits with the local property
  * `perfbench.tag` = "<op>|<layer>"; a SparkListener folds job, stage and
  * task metrics into that tag, and a QueryExecutionListener folds Catalyst
  * phase times and scan rows into the innermost open span. Stream threads
  * inherit the tag of the span that started the query. At each span end the
  * listener bus is drained (inside a `trace.drain` span), so all events of a
  * span are delivered before the next one opens.
  *
  * With `enabled = false` a span only runs its body: the untraced run
  * registers no listener and records nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val stageTag = scala.collection.concurrent.TrieMap.empty[Int, String]
  private var stack = List.empty[(Int, String)] // (span id, tag)
  @volatile private var openTag = "-1|none"

  def tagOf(op: Int, layer: String): String = s"$op|$layer"

  def add(tag: String, key: String, v: Double): Unit = counters.synchronized {
    val m = counters.getOrElseUpdate(tag, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  /** Counter `key` of one (op, layer), 0 when never touched. */
  def count(op: Int, layer: String, key: String): Double = counters.synchronized {
    counters.get(tagOf(op, layer)).flatMap(_.get(key)).getOrElse(0.0)
  }

  /** Union length (ms) of the task intervals of one (op, layer). */
  def taskUnionMs(op: Int, layer: String): Double = counters.synchronized {
    val iv = intervals.getOrElse(tagOf(op, layer), mutable.ArrayBuffer.empty).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Source rows read by a plan's leaf scans, subquery scans included. */
  private def scanRows(p: SparkPlan): Long = {
    val sub = p.expressions.flatMap(_.collect {
      case e: ExecSubqueryExpression => e.plan match {
        case _: ReusedSubqueryExec => 0L
        case sp => scanRows(sp)
      }
    }).sum
    sub + (p match {
      case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
      case s if s.children.isEmpty =>
        if (s.nodeName.contains("Scan")) s.metrics.get("numOutputRows").map(_.value).getOrElse(0L) else 0L
      case o => o.children.map(scanRows).sum
    })
  }

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.tag"))).getOrElse(openTag)
        add(tag, "jobs", 1)
        add(tag, "stages", e.stageIds.size)
        e.stageIds.foreach(stageTag(_) = tag)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val tag = stageTag.getOrElse(e.stageId, openTag)
        add(tag, "tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(tag, "task_run_ms", m.executorRunTime.toDouble)
          add(tag, "task_cpu_ms", m.executorCpuTime / 1e6)
          add(tag, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          add(tag, "shuffle_read_mb",
            (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0)
          add(tag, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        }
        val info = e.taskInfo
        if (info != null) counters.synchronized {
          intervals.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) += ((info.launchTime, info.finishTime))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val tag = openTag
        qe.tracker.phases.foreach { case (phase, s) => add(tag, s"plan_${phase}_ms", s.durationMs.toDouble) }
        add(tag, "scan_rows", scanRows(qe.executedPlan).toDouble)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Run `body` as span `layer` of op `op`. */
  def span[T](layer: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val tag = tagOf(op, layer)
      val outer = sc.getLocalProperty("perfbench.tag")
      stack = (id, tag) :: stack
      openTag = tag
      sc.setLocalProperty("perfbench.tag", tag)
      val t0 = System.nanoTime
      try body
      finally {
        val t1 = System.nanoTime
        spans += Span(id, layer, parent, op, t0, t1)
        val d0 = System.nanoTime
        PerfbenchBus.drain(sc)
        val d1 = System.nanoTime
        stack = stack.tail
        openTag = stack.headOption.map(_._2).getOrElse("-1|none")
        sc.setLocalProperty("perfbench.tag", outer)
        if (stack.nonEmpty) spans += Span(nextId(), "trace.drain", stack.head._1, op, d0, d1)
      }
    }

  private var lastId = -1
  private def nextId(): Int = { lastId += 1; lastId }

  /** Self time of every span: its length minus what its children cover. */
  def selfMs: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - child.getOrElse(s.id, 0.0))).toMap
  }
}
