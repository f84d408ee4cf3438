package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import perfbench.Harness.Op

/** Collects the timed window's ops and prints the report line: raw op
  * latencies and checks for the end-to-end metrics, per-layer metrics from
  * the tracer (per timed op), and the run's settings. The traced run also
  * writes its spans and per-op counts to `--artifact`. */
final class Report(spark: SparkSession, tr: Tracer, jvmStartMs: Long, sessionMs: Double) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private val visibleMs = mutable.Map.empty[Int, Double]
  private val infos = mutable.LinkedHashMap.empty[String, Any]
  private var setupS = 0.0
  private var windowS = 0.0
  private var heapMb = 0.0
  private val jvm0 = mutable.Map.empty[String, Double]
  private val jvm1 = mutable.Map.empty[String, Double]
  private var cache = (0.0, 0)

  def info(k: String, v: Any): Unit = infos(k) = v
  def timed[T](k: String)(body: => T): T = {
    val t0 = System.nanoTime
    try body finally info(k, (System.nanoTime - t0) / 1e9)
  }
  def visible(op: Int, ms: Double): Unit = if (op >= 0) visibleMs(op) = ms

  private def jvmNow(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
      case _ => 0.0
    }
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    Map("gc_ms" -> gc.toDouble, "jit_ms" -> jit.toDouble, "proc_cpu_ms" -> cpu,
      "compiles" -> cg.getCount.toDouble, "compile_mean_ms" -> cg.getSnapshot.getMean)
  }

  /** The timed window: ops run back to back until `seconds` have passed
    * and the next op index is a multiple of `unit` (so a cycle times whole
    * compaction rounds). An op that throws counts as failed; a failed op
    * past the deadline ends the window at once. */
  def window(seconds: Long, unit: Int = 1)(op: Int => Op): Unit = {
    setupS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    jvm0 ++= jvmNow()
    val t0 = System.nanoTime
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (i == 0 || (i % unit != 0 && ops.last.ok) || System.nanoTime < deadline) {
      val s = System.nanoTime
      ops += (try op(i) catch {
        case e: Throwable => Op(i, "?", (System.nanoTime - s) / 1e6, ok = false, String.valueOf(e.getMessage).take(200))
      })
      i += 1
    }
    windowS = (System.nanoTime - t0) / 1e9
    jvm1 ++= jvmNow()
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    cache = (infos.map(r => r.memSize + r.diskSize).sum / 1048576.0, infos.length)
    // full GCs until the live heap stops shrinking: each GC lets Spark's
    // ContextCleaner drop broadcast and shuffle blocks of collected plans,
    // which the next GC reclaims
    val mem = ManagementFactory.getMemoryMXBean
    var prev = Double.MaxValue
    heapMb = Double.MaxValue / 2
    var rounds = 0
    while (rounds < 8 && heapMb < prev * 0.995) {
      prev = heapMb
      System.gc()
      Thread.sleep(200)
      heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
      rounds += 1
    }
    ops.filterNot(_.ok).take(5).foreach(o => System.err.println(s"[perfbench] op ${o.index} ${o.key} failed: ${o.error}"))
  }

  /** Linear-interpolated quantile, 0 for an empty sample. */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = pos.toInt
      s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (pos - lo)
    }
  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Per-layer metrics, each averaged over the timed ops. */
  def layers: Seq[(String, String, Double)] = {
    val timed = ops.map(_.index).toSet
    val n = math.max(1, timed.size).toDouble
    val spans = tr.spans.filter(s => timed.contains(s.op))
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
    def c(layer: String, key: String) = timed.toSeq.map(tr.count(_, layer, key)).sum / n
    def all(key: String) = Seq("op", "operators.build", "exec", "engine.reap", "streaming.produce", "streaming.ingest",
      "streaming.resolve", "streaming.analytics", "streaming.publish", "streaming.reingest", "streaming.requery",
      "streaming.compact", "streaming.expire").map(c(_, key)).sum
    def jvm(k: String) = (jvm1.getOrElse(k, 0.0) - jvm0.getOrElse(k, 0.0)) / n
    val opSpans = spans.filter(_.name == "op")
    val self = tr.selfMs
    val drain = spans.filter(_.name == "trace.drain").map(_.ms).sum
    val opWall = opSpans.map(_.ms).sum
    val opSelf = opSpans.map(s => self(s.id)).sum
    val coverage = if (opWall - drain <= 0) 0.0 else (opWall - drain - opSelf) / (opWall - drain)
    val execDriver = timed.toSeq.map(i => spans.filter(s => s.op == i && s.name == "exec").map(_.ms).sum -
      tr.taskUnionMs(i, "exec")).sum / n
    val ing = "streaming.ingest"
    Seq(
      ("engine.session_ms", "ms", sessionMs),
      ("engine.reap_ms", "ms", spanMs("engine.reap")),
      ("engine.reaped", "count", c("engine.reap", "reaped")),
      ("tables.cache_mb", "MiB", cache._1),
      ("tables.cache_rdds", "count", cache._2.toDouble),
      ("operators.build_ms", "ms", spanMs("operators.build")),
      ("operators.build_jobs", "count", c("operators.build", "jobs")),
      ("operators.build_tasks", "count", c("operators.build", "tasks")),
      ("operators.build_task_cpu_ms", "ms", c("operators.build", "task_cpu_ms")),
      ("plans.analysis_ms", "ms", all("plan_analysis_ms")),
      ("plans.optimization_ms", "ms", all("plan_optimization_ms")),
      ("plans.planning_ms", "ms", all("plan_planning_ms")),
      ("codegen.compiles", "count", jvm("compiles")),
      ("codegen.compile_ms", "ms", jvm("compiles") * jvm1.getOrElse("compile_mean_ms", 0.0)),
      ("exec.ms", "ms", spanMs("exec")),
      ("exec.jobs", "count", c("exec", "jobs")),
      ("exec.stages", "count", c("exec", "stages")),
      ("exec.tasks", "count", c("exec", "tasks")),
      ("exec.task_run_ms", "ms", c("exec", "task_run_ms")),
      ("exec.task_cpu_ms", "ms", c("exec", "task_cpu_ms")),
      ("exec.driver_ms", "ms", execDriver),
      ("exec.shuffle_write_mb", "MiB", c("exec", "shuffle_write_mb")),
      ("exec.shuffle_read_mb", "MiB", c("exec", "shuffle_read_mb")),
      ("exec.spill_mb", "MiB", c("exec", "spill_mb")),
      ("exec.scan_rows", "count", c("exec", "scan_rows")),
      ("streaming.produce_ms", "ms", spanMs("streaming.produce")),
      ("streaming.produce_rows", "count", c("streaming.produce", "rows")),
      ("streaming.topic_mb", "MiB", c("streaming.produce", "topic_mb")),
      ("streaming.ingest_ms", "ms", spanMs(ing)),
      ("streaming.ingest_rows", "count", c(ing, "rows")),
      ("streaming.ingest_rejects", "count", c(ing, "rejects")),
      ("streaming.ingest_files", "count", c(ing, "files")),
      ("streaming.ingest_mb", "MiB", c(ing, "mb")),
      ("streaming.ingest_jobs", "count", c(ing, "jobs")),
      ("streaming.ingest_tasks", "count", c(ing, "tasks")),
      ("streaming.ingest_task_cpu_ms", "ms", c(ing, "task_cpu_ms")),
      ("streaming.trigger.addBatch_ms", "ms", c(ing, "trigger_addBatch_ms")),
      ("streaming.trigger.getBatch_ms", "ms", c(ing, "trigger_getBatch_ms")),
      ("streaming.trigger.latestOffset_ms", "ms", c(ing, "trigger_latestOffset_ms")),
      ("streaming.trigger.queryPlanning_ms", "ms", c(ing, "trigger_queryPlanning_ms")),
      ("streaming.trigger.walCommit_ms", "ms", c(ing, "trigger_walCommit_ms")),
      ("streaming.trigger.triggerExecution_ms", "ms", c(ing, "trigger_triggerExecution_ms")),
      ("streaming.visible_p50_ms", "ms", median(visibleMs.filter(v => timed.contains(v._1)).values.toSeq)),
      ("streaming.resolve_ms", "ms", spanMs("streaming.resolve")),
      ("streaming.resolve_jobs", "count", c("streaming.resolve", "jobs")),
      ("streaming.snapshots_visible", "count", c("streaming.resolve", "snapshots_visible")),
      ("streaming.table_files", "count", c("streaming.resolve", "table_files")),
      ("streaming.analytics_ms", "ms", spanMs("streaming.analytics")),
      ("streaming.analytics_rows_in", "count", c("streaming.analytics", "rows_in")),
      ("streaming.analytics_task_cpu_ms", "ms", c("streaming.analytics", "task_cpu_ms")),
      ("streaming.analytics_shuffle_mb", "MiB", c("streaming.analytics", "shuffle_write_mb")),
      ("streaming.publish_ms", "ms", spanMs("streaming.publish")),
      ("streaming.reingest_ms", "ms", spanMs("streaming.reingest")),
      ("streaming.requery_ms", "ms", spanMs("streaming.requery")),
      ("streaming.compact_ms", "ms", spanMs("streaming.compact")),
      ("streaming.compact_rewritten_mb", "MiB", c("streaming.compact", "rewritten_mb")),
      ("streaming.compact_replaced", "count", c("streaming.compact", "replaced")),
      ("streaming.expire_ms", "ms", spanMs("streaming.expire")),
      ("streaming.expired_dirs", "count", c("streaming.expire", "dirs")),
      ("jvm.gc_ms", "ms", jvm("gc_ms")),
      ("jvm.jit_ms", "ms", jvm("jit_ms")),
      ("jvm.proc_cpu_ms", "ms", jvm("proc_cpu_ms")),
      ("op.p50_ms", "ms", median(ops.map(_.ms).toSeq)),
      ("op.p90_ms", "ms", quantile(ops.map(_.ms).toSeq, 0.9)),
      ("op.samples", "count", ops.size.toDouble),
      ("op.jobs", "count", all("jobs")),
      ("op.tasks", "count", all("tasks")),
      ("trace.drain_ms", "ms", drain / n),
      ("trace.coverage", "ratio", coverage))
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  private def js(v: Any): String = v match {
    case s: String => q(s)
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(js).mkString("[", ",", "]")
    case x => q(x.toString)
  }

  /** Per-op job and task counts by op index, per layer. */
  private def perOp: Seq[Map[String, Any]] = ops.toSeq.map { o =>
    val layers = tr.spans.filter(s => s.op == o.index && s.name != "trace.drain").map(_.name).distinct
    Map("op" -> o.index, "key" -> o.key, "ms" -> o.ms, "ok" -> o.ok,
      "jobs" -> layers.map(l => l -> tr.count(o.index, l, "jobs").toLong).toMap,
      "tasks" -> layers.map(l => l -> tr.count(o.index, l, "tasks").toLong).toMap)
  }

  def print(artifact: Option[String] = None): Unit = {
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.graft.") || k == "spark.master" || k.startsWith("spark.driver.memory")
    }
    val base = Map[String, Any](
      "ops" -> ops.map(_.ms).toSeq, "ok" -> ops.map(_.ok).toSeq, "keys" -> ops.map(_.key).toSeq,
      "setup_s" -> setupS, "window_s" -> windowS, "heap_live_mb" -> heapMb,
      "nproc" -> Runtime.getRuntime.availableProcessors, "client_threads" -> 1,
      "task_threads" -> spark.sparkContext.defaultParallelism,
      "conf" -> conf, "info" -> infos.toMap.map { case (k, v) => k -> v })
    val layer = if (tr.enabled) Map("layers" -> layers.map { case (k, u, v) => k -> Map("value" -> v, "unit" -> u) }.toMap) else Map.empty
    artifact.filter(_ => tr.enabled).foreach { path =>
      val spans = tr.spans.map(s => Seq(s.id, s.name, s.parent, s.op, (s.start / 1000).toDouble / 1000, s.ms)).toSeq
      val self = tr.selfMs
      val selfBy = tr.spans.filter(s => ops.exists(_.index == s.op)).groupBy(_.name)
        .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / math.max(1, ops.size) }
      val doc = base ++ layer ++ Map("self_ms_per_op" -> selfBy, "per_op" -> perOp,
        "span_fields" -> Seq("id", "name", "parent", "op", "start_ms", "ms"), "spans" -> spans)
      java.nio.file.Files.write(java.nio.file.Paths.get(path), (js(doc) + "\n").getBytes("UTF-8"))
    }
    println(js(base ++ layer))
  }
}
