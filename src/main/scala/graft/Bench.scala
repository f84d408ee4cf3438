package graft

/** Driver-run benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Methodology (four passes, see BASELINE.md):
  *  1. cold    — first runs pay janino codegen compilation + classloading
  *               (5.8 s vs 0.7 s for the window queries); reported as
  *               `total_cold`.
  *  2. nocache — warm JVM, tables re-scanned from parquet per query
  *               (metadata cache only); reported as `total_nocache`.
  *  3. cache-materialize — switch `spark.graft.tableCache=memory`
  *               (repartitioned columnar cache, Tables.t) and run once to
  *               pin tables + compile the cached-scan codegen. Untimed.
  *  4. hot     — the headline pass (`value`/`queries`): warm engine with
  *               hot table cache, the apples-to-apples state against the
  *               DuckDB oracle re-reading OS-page-cached parquet.
  *
  * Each run materializes the FULL result via the noop data source (count()
  * would let Catalyst prune the projections being measured).
  *
  * SELF-DIAGNOSIS (two driver rounds produced contended artifacts that
  * only a clean re-run could adjudicate): the JSON now carries
  *  - `passes`: the raw per-query seconds of EVERY pass (cold / nocache /
  *    hotA / hotB, aligned with `names`), so uniform inflation across
  *    passes — the signature of machine contention, vs a genuine
  *    regression which moves specific queries in ALL passes including
  *    clean ones — is readable from the artifact alone;
  *  - `load`: /proc loadavg + JVM cpu count sampled before and after the
  *    run; a loadavg far above the benchmark's own parallelism at start
  *    means something else was running.
  * Stdout is TWO lines: the compact driver-contract summary first (totals,
  * per-query hot seconds, failed list, load stamps), then the bulky
  * per-pass diagnostic arrays — the driver's stdout capture has twice
  * truncated a single combined line mid-JSON (`"parsed": null`), and
  * ordering the summary first makes it immune to tail truncation. The
  * combined JSON is also written to `/root/repo/BENCH_SELF.json`. Seconds
  * are rounded to 0.1 ms to keep the lines compact. */
object Bench {

  /** Counts SILENT whole-stage-codegen fallbacks: a stage whose generated
    * method exceeds spark.sql.codegen.hugeMethodLimit reverts to
    * expression-tree interpretation with only an INFO log — a 50–100×
    * per-row tax invisible at WARN (the x94 finding). Raises the codegen
    * logger to INFO, installs a counting appender, and returns the (label
    * setter, counts snapshot) pair. Attribution caveat: events are
    * attributed to the CURRENT label at arrival time; log4j delivery is
    * not barriered with job completion, so a straggling executor event
    * can in principle charge query N's fallback to query N+1. Acceptable
    * for a diagnostic: the contract is "which keys trip it", and a
    * ±1-key smear still points at the right family. */
  private def attachFallbackMeter(): (String => Unit, () => Map[String, Int]) = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.WholeStageCodegenExec",
      org.apache.logging.log4j.Level.INFO)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "fallback-audit", null,
      org.apache.logging.log4j.core.layout.PatternLayout.createDefaultLayout(),
      false, Array.empty) {
      @volatile var current: String = "?"
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Found too long generated codes"))
          counts.synchronized { counts(current) = counts.getOrElse(current, 0) + 1 }
      }
    }
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getLoggerConfig(
      "org.apache.spark.sql.execution.WholeStageCodegenExec").addAppender(
      appender, org.apache.logging.log4j.Level.INFO, null)
    ctx.updateLoggers()
    (label => appender.current = label,
      () => counts.synchronized { counts.toMap })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // Contention guard (VERDICT r8: a load-9.3 artifact cost a round a clean
    // cross-round comparison): numbers from a loaded machine are upper
    // bounds, not measurements — flag it loudly in stderr AND the JSON so a
    // contended run is never shipped as the round artifact unlabeled.
    // Threshold cores/8 (was cores/4): round 13 shipped a load-7.12 run on
    // 32 cores as `contended:false` and every per-query time carried a
    // uniform ~1.35× inflation — cores/4 lets a third of the machine be
    // busy before flagging, which is far past where sub-second queries
    // start absorbing scheduler noise.
    // r16 (VERDICT r15 #6): don't just LABEL contention — WAIT it out.
    // Three driver rounds in a row shipped contended artifacts because the
    // driver schedules Bench next to other work; a bounded spin (up to
    // 10 min, re-checked each minute) lets the co-tenant drain so the
    // shipped artifact is a measurement, not an upper bound. Backstopped:
    // after the budget we run anyway, labeled contended as before.
    val threshold = Runtime.getRuntime.availableProcessors / 8.0
    var waited = 0
    // SPARK_GRAFT_NO_WAIT=1 skips the drain (local tooling only — the
    // driver never sets it; a deliberately-contended local run still gets
    // the contended:true label below).
    if (sys.env.contains("SPARK_GRAFT_NO_WAIT")) waited = 10
    while (loadAvg > threshold && waited < 10) {
      System.err.println(f"[bench] start load $loadAvg%.1f > $threshold%.1f — " +
        f"waiting 60 s for the machine to drain (${waited + 1}/10)")
      Thread.sleep(60000)
      waited += 1
    }
    val loadStart = loadAvg
    // Per-pass contention stamps (r17, VERDICT r16 #2): `contended` must
    // cover the WHOLE run, not just its start — r16 shipped loadEnd 4.15
    // > 4.0 as contended:false because only the start was checked. But a
    // mid-run loadavg alone can't gate: it includes the bench's OWN 32
    // worker threads, so any boundary after a busy pass would read high
    // on a perfectly clean machine. Each boundary therefore samples
    // /proc/stat total-CPU MINUS /proc/self/stat process-CPU over 2 s —
    // co-tenant cores, the signal loadavg conflates away — alongside the
    // raw loadavg (kept in the artifact for D-state/I/O co-tenants that
    // burn no CPU, which the others-CPU probe can't see). The flag trips
    // if the start load exceeded the threshold after the drain wait, or
    // if ANY boundary shows co-tenant CPU above it.
    // (machine busy jiffies, this process's busy jiffies). /proc/stat cpu
    // line: user nice system idle iowait irq softirq steal guest
    // guest_nice — busy excludes idle (3), iowait (4) AND guest/guest_nice
    // (8/9): the kernel folds guest time into user/nice already, so
    // counting fields 8/9 double-counts co-tenant CPU on virtualized
    // hosts and can trip contended:true falsely (r18, ADVICE).
    // /proc/self/stat utime(14)+stime(15) are process-wide across
    // threads; fields are located AFTER the ')' that closes the comm
    // field, which may itself contain spaces. USER_HZ is 100 on Linux.
    def jiffies(): (Long, Long) = {
      val tot = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      val busy = tot.zipWithIndex.collect {
        case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v
      }.sum
      val raw = scala.io.Source.fromFile("/proc/self/stat").mkString
      // state(1-based field 3) onward; utime/stime are fields 14/15 ⇒
      // indices 11/12 of the post-comm split
      val self = raw.substring(raw.lastIndexOf(')') + 2).split(" ")
      (busy, self(11).toLong + self(12).toLong)
    }
    def othersCores(): Double = {
      val (b0, s0) = jiffies()
      Thread.sleep(2000)
      val (b1, s1) = jiffies()
      ((b1 - b0) - (s1 - s0)).max(0L) / 100.0 / 2.0
    }
    // Cumulative JVM GC milliseconds: a pass whose queries slow down with
    // low co-tenant CPU but a big GC delta is stalling on ITS OWN heap
    // (GC threads are self-CPU, so others_cpu can't see them) — the other
    // candidate for the r16 window-shaped nocache anomaly.
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    val loadStamps = scala.collection.mutable.ArrayBuffer(
      ("start", loadStart, 0.0, gcMs))
    def stamp(label: String): Unit =
      loadStamps += ((label, loadAvg, othersCores(), gcMs))
    def contendedNow =
      loadStart > threshold || loadStamps.exists(_._3 > threshold)
    if (loadStart > threshold) System.err.println(
      f"[bench] WARNING: start load $loadStart%.1f exceeds cores/8 after " +
        "a 10-min drain wait — re-run on an idle machine before treating " +
        "this artifact as a measurement")
    // Latency profile on top of the engine defaults: at bench SF every
    // shuffle is <10 MB, so AQE's per-stage re-planning jobs cost more than
    // they save (engine default keeps AQE on for the 100 TB posture —
    // coalescing and skew-splitting pay for themselves when stages move GBs).
    // SPARK_GRAFT_CONF still overrides both.
    // 8 post-shuffle partitions ≈ data/cores-proportional at bench SF (the
    // whole sf0.1 dataset is ~100 MB; 32 would mean sub-MB tasks whose
    // scheduling dominates). Scales with SF via SPARK_GRAFT_CONF.
    val spark = Engine.session(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8")

    // Per-query JVM meters (r17): cumulative GC ms and JIT-compilation ms
    // deltas around each query, emitted as diag arrays. Three idle-machine
    // reruns put the r16-style nocache blowup in a CONTIGUOUS RUN-ORDER
    // WINDOW at a different key range each run, with ~zero co-tenant CPU
    // at pass boundaries — a time-localized JVM stall, not key-specific
    // work and not contention. These meters make the next window
    // self-attributing from the artifact alone: a window whose queries
    // carry big jit deltas is an interpreter-speed compile storm; big gc
    // deltas, a heap stall; neither, an OS-level stall (I/O writeback).
    def jitMs: Long = Option(
      java.lang.management.ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val meterGc = scala.collection.mutable.ArrayBuffer.empty[Long]
    val meterJit = scala.collection.mutable.ArrayBuffer.empty[Long]
    // Rows-scanned meter (r19, VERDICT r18 #7): per-key source rows from
    // the executed plans' scan metrics, so any two artifacts at different
    // SFs let tools/flatness.py compute ms/row and self-flag the silent-
    // interpretation signature (per-row cost both HIGH and FLAT across
    // scales — the x94 class) without a manual sweep. A key may run many
    // QueryExecutions (bounds collects, training); the listener sums scan
    // rows across ALL executions inside the key's window — the honest
    // denominator. Listener delivery is async, so reads poll until the
    // counter is stable (outside the timed window).
    val scanRowsAcc = new java.util.concurrent.atomic.AtomicLong(0)
    def leafRows(p: org.apache.spark.sql.execution.SparkPlan): Long = {
      // scans inside scalar/IN subquery expressions (q36/q37-class plans
      // put ALL their scans there — the main plan is a 1-row project, and
      // the r19 sf10 screen false-flagged q37 as GROWTH on rows=1).
      // ReusedSubqueryExec is skipped: counting a reused subquery's scan
      // again would double-count.
      val subRows = p.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.execution.ExecSubqueryExpression =>
          e.plan match {
            case _: org.apache.spark.sql.execution.ReusedSubqueryExec => 0L
            case sp => leafRows(sp)
          }
      }).sum
      subRows + (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          leafRows(a.executedPlan)
        // leaves named *Scan* only: ReusedExchange leaves carry
        // numOutputRows of NON-source rows and would double-count
        case s if s.children.isEmpty =>
          if (s.nodeName.contains("Scan"))
            s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          else 0L
        case o => o.children.map(leafRows).sum
      })
    }
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { scanRowsAcc.addAndGet(leafRows(qe.executedPlan)); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })
    def rowsSettled(): Long = {
      var prev = -1L; var v = scanRowsAcc.get; var spins = 0
      while (v != prev && spins < 100) { prev = v; Thread.sleep(10); v = scanRowsAcc.get; spins += 1 }
      v
    }
    val rowsHot = scala.collection.mutable.Map.empty[String, Long]
    // Silent-fallback meter (r19): the logged half of the interpretation
    // class (janino "too long generated codes" → whole-stage falls back to
    // interpreted eval at INFO level) counted per key into the artifact.
    // The UNLOGGED half (compiles but exceeds HotSpot's 8 KB JIT cutoff)
    // is what the rows/ms-per-row screen above exists for.
    val (fbSet, fbCounts) = attachFallbackMeter()
    // a failed query must NOT read as a fast success: sentinel -1, excluded
    // from the total, listed in "failed"
    // Per-key watchdog (r19, for the sf10 full-suite scale gate): a key
    // that stalls at scale must cost its timeout, not the session. Spark
    // jobs of the key run under a job group; on timeout the group is
    // cancelled and the key reports failed (-1). Driver-side loops between
    // jobs only see the cancel at their next job submission — acceptable
    // for a screen. Opt-in via SPARK_GRAFT_TIMEOUT_S (driver never sets it).
    val timeoutS = sys.env.get("SPARK_GRAFT_TIMEOUT_S").map(_.toLong)
    val watchdogPool = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    def runOnce(name: String): Double = {
      val (g0, j0) = (gcMs, jitMs)
      def meter(): Unit = { meterGc += gcMs - g0; meterJit += jitMs - j0 }
      val watchdog = timeoutS.map { t =>
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        watchdogPool.schedule(new Runnable {
          override def run(): Unit = {
            System.err.println(s"[bench] $name exceeded ${t}s — cancelling job group")
            spark.sparkContext.cancelJobGroup(name)
          }
        }, t, java.util.concurrent.TimeUnit.SECONDS)
      }
      fbSet(name)
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // Query-exit hygiene (r17, VERDICT r16 #1): release the query's
        // pins (Tables.pin) now that its result is fully materialized.
        // Without this, a 207-query session accumulates every iterative
        // operator's checkpoint blocks in the storage pool — the prime
        // suspect for the r16 nocache pass running 10-200× slower on its
        // SECOND warm run of a dozen keys. Reaping is outside the timed
        // window: it models the serving layer's per-request cleanup, not
        // the query's cost.
        Engine.reapLocalCheckpoints(spark)
        meter()
        watchdog.foreach(_.cancel(false))
        sec
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        Engine.reapLocalCheckpoints(spark)
        meter()
        watchdog.foreach(_.cancel(false))
        -1.0
      } finally if (timeoutS.isDefined) spark.sparkContext.clearJobGroup()
    }
    // local tooling only (driver never sets it): restrict to a comma list
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(SparkEntry.queries.contains))
      .getOrElse(SparkEntry.queries.keys.toSeq).sorted
    def pass(recordRows: Boolean = false): Seq[(String, Double)] = names.map { n =>
      if (recordRows) scanRowsAcc.set(0)
      val r = n -> runOnce(n)
      if (recordRows)
        rowsHot(n) = math.max(rowsHot.getOrElse(n, 0L), rowsSettled())
      r
    }
    def tot(r: Seq[(String, Double)]): Double = r.map(_._2).filter(_ >= 0).sum

    // SPARK_GRAFT_PASSES=quick (r19, local tooling for the sf10 scale
    // gate; driver never sets it): cold (compile + timed) and ONE hot pass
    // with rows recording — skips nocache, the cache-materialize pass and
    // hotB, so a 100×-scale full-suite screen costs 2 passes, not 5. The
    // hot pass still runs under tableCache=memory; the ≤cap dimension pins
    // materialize lazily on first touch (noted, not separately timed).
    val quick = sys.env.get("SPARK_GRAFT_PASSES").contains("quick")
    spark.conf.set("spark.graft.tableCache", "meta")
    val cold = pass()
    stamp("after_cold")
    val nocache = if (quick) Nil else pass()
    if (!quick) stamp("after_nocache")
    spark.conf.set("spark.graft.tableCache", "memory")
    if (!quick) {
      pass() // materialize columnar cache + compile cached-scan codegen
      stamp("after_materialize")
    }
    // headline = elementwise best of two hot passes: a single shot picks up
    // one-off GC/scheduler jitter (observed 0.3 s queries reading as 1 s).
    // A failure in EITHER pass is a failure — an intermittently-failing
    // query must not report the surviving pass's time as a clean success.
    val hotA = pass(recordRows = true)
    stamp("after_hotA")
    val hotB = if (quick) Nil else pass(recordRows = true)
    if (!quick) stamp("after_hotB")
    val hot = if (quick) hotA else hotA.zip(hotB).map { case ((n, a), (_, b)) =>
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val loadEnd = loadStamps.last._2
    val contended = contendedNow
    if (contended) System.err.println(
      "[bench] WARNING: co-tenant CPU at a pass boundary (or start load) " +
        "exceeded the threshold — " +
        loadStamps.map { case (l, v, o, g) =>
          f"$l=$v%.2f/others=$o%.2f/gc=${g}ms" }.mkString(", "))

    def s4(v: Double): String = if (v < 0) "-1" else f"$v%.4f"
    val qs = hot.map { case (k, v) => "\"" + k + "\":" + s4(v) }.mkString("{", ",", "}")
    val failed = hot.filter(_._2 < 0).map(_._1)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val namesJson = names.map("\"" + _ + "\"").mkString("[", ",", "]")
    def arr(p: Seq[(String, Double)]): String =
      p.map(x => s4(x._2)).mkString("[", ",", "]")
    val passesJson = s"""{"cold":${arr(cold)},"nocache":${arr(nocache)},""" +
      s""""hotA":${arr(hotA)},"hotB":${arr(hotB)}}"""
    val stampsJson = loadStamps
      .map { case (l, v, o, g) =>
        f""""$l":{"load":$v%.2f,"others_cpu":$o%.2f,"gc_ms":$g}""" }
      .mkString("{", ",", "}")
    val loadJson = f"""{"start":$loadStart%.2f,"end":$loadEnd%.2f,""" +
      s""""passes":$stampsJson,""" +
      s""""cpus":${Runtime.getRuntime.availableProcessors},"contended":$contended}"""
    val summary = s"""{"metric":"total","value":${s4(tot(hot))},"unit":"sec","queries":$qs,""" +
      s""""total_nocache":${s4(tot(nocache))},"total_cold":${s4(tot(cold))},""" +
      s""""failed":$failedJson,"sf":"$sfDir","load":$loadJson}"""
    // run-order JVM meter arrays (cold, nocache, materialize, hotA, hotB
    // concatenated — 5×|names| entries): see the runOnce meter comment
    val metersJson = s"""{"gc_ms":${meterGc.mkString("[", ",", "]")},""" +
      s""""jit_ms":${meterJit.mkString("[", ",", "]")}}"""
    // per-key scan rows (max of hotA/hotB), keyed like `queries`
    val rowsJson = names.map(n => "\"" + n + "\":" + rowsHot.getOrElse(n, 0L))
      .mkString("{", ",", "}")
    val diag = s"""{"metric":"passes","names":$namesJson,"passes":$passesJson,""" +
      s""""meters":$metersJson,"rows":$rowsJson}"""
    val fallbacksJson = fbCounts().toSeq.sortBy(_._1)
      .map { case (k, n) => "\"" + k + "\":" + n }.mkString("{", ",", "}")
    val json = summary.dropRight(1) + s""","names":$namesJson,"passes":$passesJson,""" +
      s""""meters":$metersJson,"rows":$rowsJson,"fallbacks":$fallbacksJson}"""
    // The driver keeps only the LAST 2000 chars of stdout and parses a JSON
    // line out of them (BENCH_rNN "tail"); every round since r9 parsed null
    // because the full 185-query summary (~4.5 KB) can neither fit the
    // window nor survive being printed before the bulky diag line. Print
    // order is therefore: bulky lines FIRST (diag, full summary — both
    // preserved verbatim in BENCH_SELF.json), then ONE final compact line
    // that is size-bounded by construction to always sit complete inside
    // the tail window (budget leaves room for sbt's trailing
    // "[success] Total time" lines). Headline q-keys get priority; x-keys
    // fill the remainder; "q_omitted" says how many didn't fit.
    val tailBudget = 1600
    // The failed list must be size-bounded here: the fixed prefix sits
    // OUTSIDE the budget accounting, so a many-failure run would inflate
    // the line past the driver's 2000-char tail window (the null-parse
    // failure this compact line exists to prevent). Named `failed_sample`
    // (first 5 names only) so no consumer mistakes it for the complete
    // list — `n_failed` is the authoritative count and BENCH_SELF.json's
    // `failed` carries every name.
    val failedCompact = failed.take(5).map("\"" + _ + "\"").mkString("[", ",", "]")
    val base = s"""{"metric":"total","value":${s4(tot(hot))},"unit":"sec",""" +
      s""""sf":"$sfDir","n_queries":${names.size},""" +
      s""""n_failed":${failed.size},"failed_sample":$failedCompact,""" +
      s""""total_nocache":${s4(tot(nocache))},"total_cold":${s4(tot(cold))},""" +
      s""""load":$loadJson,"full":"BENCH_SELF.json","""
    val prioritized = hot.filter(_._1.startsWith("q")) ++ hot.filterNot(_._1.startsWith("q"))
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = base.length + 60 // headroom for the closing fields
    prioritized.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + s4(v)
      if (len + e.length + 1 <= tailBudget) { entries += e; len += e.length + 1 }
    }
    val compact = base + s""""q_omitted":${names.size - entries.size},""" +
      s""""queries":${entries.mkString("{", ",", "}")}}"""
    println(diag)
    println(summary)
    println(compact)
    // only a FULL-suite run may own the committed self-record: a
    // SPARK_GRAFT_BENCH_ONLY subset run overwriting it silently destroys
    // the round artifact (happened in round 11 — restored from git)
    // SPARK_GRAFT_SELF_OUT redirects the full artifact (quick/scale runs
    // keep their own file and never touch the committed round record)
    val selfOut = sys.env.get("SPARK_GRAFT_SELF_OUT")
    if (selfOut.isEmpty && (sys.env.contains("SPARK_GRAFT_BENCH_ONLY") || quick))
      System.err.println("[bench] subset/quick run — BENCH_SELF.json not written")
    else try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(selfOut.getOrElse("/root/repo/BENCH_SELF.json")), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] self-dump failed: $e") }
    watchdogPool.shutdownNow()
    spark.stop()
  }
}
