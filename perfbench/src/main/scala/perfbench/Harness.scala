package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.{Engine, SparkEntry}
import graft.streaming._

/** Closed-loop benchmark harness: one client thread drives the engine
  * through its public entry points and prints one JSON report line.
  *
  *   cycle        the bidirectional lakehouse cycle (produce, ingest,
  *                resolve + analytics, publish, re-ingest, re-query)
  *   suite        the keys of set `--set` in the `--keys` file (build +
  *                noop execute per op)
  *   split        every key: settled hot passes that record each key's
  *                build-time Spark jobs and result fingerprint
  *
  * Options: --seed n --seconds s --trace 0|1 --data dir --work dir
  *          --keys file --set name --artifact file --out file */
object Harness {
  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
    def long(k: String, d: Long): Long = m.get(k).map(_.toLong).getOrElse(d)
    def long(k: String): Long = apply(k).toLong
  }

  /** Outcome of one op: wall ms, whether its checks passed, and an error. */
  final case class Op(index: Int, key: String, ms: Double, ok: Boolean, error: String = "")

  val TradesPerOp = 20000L
  val CompactEvery = 3
  val CycleWarmups = 5
  val SettlePasses = 2
  val OpTimeoutS = 60L
  val LatencyProfile = Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "8")

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val o = Opts(args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime
    val spark = Engine.session(LatencyProfile: _*)
    val sessionMs = (System.nanoTime - t0) / 1e6
    val tracer = new Tracer(spark, o.get("trace", "0") == "1")
    val report = new Report(spark, tracer, jvmStartMs, sessionMs)
    report.info("workload", o.get("workload", mode))
    mode match {
      case "cycle" => runCycle(spark, tracer, o, report)
      case "suite" => runSuite(spark, tracer, o, report)
      case "split" => runSplit(spark, tracer, o, report)
    }
    report.print(o.m.get("artifact"))
    spark.stop()
  }

  // ---------------------------------------------------------------- cycle

  def runCycle(spark: SparkSession, tr: Tracer, o: Opts, rep: Report): Unit = {
    val seed = o.long("seed", 1)
    val work = o("work")
    rep.info("trades_per_op", TradesPerOp)
    rep.info("compact_every", CompactEvery)
    rep.info("warmup_cycles", CycleWarmups)
    val dog = new Watchdog(spark)
    val warm = new Cycle(spark, tr, dog, s"$work/warm", seed, rep)
    // a failed warm-up step is logged; the timed ops then show the failure
    def untimed(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $what failed: ${e.getMessage}") }
    rep.timed("warmup_s") {
      (0 until CycleWarmups).foreach(i => untimed(s"op $i")(warm.op(-1 - i)))
      untimed("maintenance")(warm.maintain(-1))
    }
    val timed = new Cycle(spark, tr, dog, s"$work/timed", seed, rep)
    // whole rounds of CompactEvery ops, each round ending in maintenance
    rep.window(o.long("seconds"), CompactEvery) { i =>
      val op = dog(s"op-$i")(timed.op(i))
      if ((i + 1) % CompactEvery == 0) timed.maintain(i)
      op
    }
    dog.stop()
    rep.info("final_table", timed.analyticsDir)
    rep.info("final_trades", timed.tradesDir)
  }

  /** One cycle root: topics, tables and checkpoints under `root`. */
  final class Cycle(spark: SparkSession, tr: Tracer, dog: Watchdog, root: String, seed: Long, rep: Report) {
    val tradesTopic = FileTopic(s"$root/topics/trades")
    val analyticsTopic = FileTopic(s"$root/topics/trade_analytics")
    val tradesDir = s"$root/tables/trades"
    val analyticsDir = s"$root/tables/trade_analytics"
    private var produced = 0L

    private def ingest(layer: String, op: Int, topic: FileTopic, dir: String, schema: org.apache.spark.sql.types.StructType,
        required: Seq[String], tsCol: String, ckpt: String): (Int, Long) = {
      val before = IngestJob.committedBatches(dir)
      val q = tr.span(layer, op) {
        val q = IngestJob.start(spark, topic, dir, schema, required, tsCol, ckpt, Trigger.AvailableNow())
        // the stream runs its jobs under its own job group, out of the
        // watchdog's reach: bound the wait by the op's remaining time instead
        if (!q.awaitTermination(dog.remainingMs)) {
          q.stop()
          throw new java.util.concurrent.TimeoutException(s"$layer did not finish within ${OpTimeoutS}s")
        }
        q
      }
      val added = IngestJob.committedBatches(dir) -- before
      val rejects = lastRejects(dir)
      if (tr.enabled) recordIngest(tr.tagOf(op, layer), q, dir, added, rejects)
      (added.size, rejects)
    }

    /** Trigger durations and rows from the query's progress (one entry per
      * batch id); files and bytes of the snapshots it committed. */
    private def recordIngest(tag: String, q: StreamingQuery, dir: String, added: Set[Long], rejects: Long): Unit = {
      q.recentProgress.groupBy(_.batchId).values.map(_.last).foreach { p =>
        tr.add(tag, "rows", p.numInputRows.toDouble)
        p.durationMs.asScala.foreach { case (k, v) => tr.add(tag, s"trigger_${k}_ms", v.toDouble) }
      }
      added.foreach { b =>
        val files = listFiles(Paths.get(s"$dir/data/batch=$b"))
        tr.add(tag, "files", files.count(_.toString.endsWith(".parquet")).toDouble)
        tr.add(tag, "mb", files.map(Files.size).sum / 1048576.0)
      }
      tr.add(tag, "rejects", rejects.toDouble)
    }

    def op(i: Int): Op = {
      val topicBefore = if (tr.enabled) dirBytes(Paths.get(tradesTopic.dir)) else 0L
      val start = System.nanoTime
      val n = TradesPerOp
      val opSeed = seed * 1000003L + i
      val checks = mutable.ArrayBuffer.empty[String]
      tr.span("op", i) {
        tr.span("streaming.produce", i)(TradeGen.produce(spark, tradesTopic, n, opSeed))
        produced += n
        val (newTrades, rejT) = ingest("streaming.ingest", i, tradesTopic, tradesDir,
          AnalyticsPipeline.tradeSchema, Seq("trade_id", "symbol", "price", "qty", "side", "ts_event"),
          "ts_event", s"$root/ckpt/trades")
        rep.visible(i, (System.nanoTime - start) / 1e6)
        val table = tr.span("streaming.resolve", i)(IngestJob.readTable(spark, tradesDir))
        val stats = tr.span("streaming.analytics", i)(AnalyticsPipeline.tradeStats(table).collect())
        val statsDf = spark.createDataFrame(stats.toSeq.asJava, stats.head.schema)
        tr.span("streaming.publish", i)(analyticsTopic.publish(Topics.envelope(statsDf, "symbol")))
        val (newAgg, rejA) = ingest("streaming.reingest", i, analyticsTopic, analyticsDir,
          AnalyticsPipeline.analyticsSchema, Seq("symbol", "trade_count", "avg_price", "total_volume"),
          "first_trade_time", s"$root/ckpt/trade_analytics")
        val cols = stats.head.schema.fieldNames.toSeq
        val requery = tr.span("streaming.requery", i)(
          IngestJob.readTable(spark, analyticsDir).select(cols.map(col): _*).collect())
        val latest = requery.groupBy(_.getString(0)).values.map(_.maxBy(_.getLong(1))).toSeq
        if (stats.length != 8) checks += s"analytics rows ${stats.length} != 8"
        if (stats.map(_.getLong(1)).sum != produced) checks += s"trade_count sum != $produced"
        if (render(latest) != render(stats.toSeq)) checks += "re-queried table != tradeStats"
        if (rejT + rejA != 0) checks += s"rejects ${rejT + rejA}"
        if (newTrades != 1 || newAgg != 1) checks += s"new batches $newTrades/$newAgg != 1/1"
      }
      if (tr.enabled) {
        val vis = Maintenance.visibleBatches(tradesDir)
        tr.add(tr.tagOf(i, "streaming.resolve"), "snapshots_visible", vis.size.toDouble)
        tr.add(tr.tagOf(i, "streaming.resolve"), "table_files", vis.toSeq.map(b =>
          listFiles(Paths.get(s"$tradesDir/data/batch=$b")).count(_.toString.endsWith(".parquet"))).sum.toDouble)
        tr.add(tr.tagOf(i, "streaming.produce"), "rows", n.toDouble)
        tr.add(tr.tagOf(i, "streaming.produce"), "topic_mb", (dirBytes(Paths.get(tradesTopic.dir)) - topicBefore) / 1048576.0)
        tr.add(tr.tagOf(i, "streaming.analytics"), "rows_in", produced.toDouble)
      }
      Op(i, "cycle", (System.nanoTime - start) / 1e6, checks.isEmpty, checks.mkString("; "))
    }

    /** Compaction then expiry of the trades table: inside the timed window,
      * outside every op's latency. */
    def maintain(i: Int): Unit = {
      val st = tr.span("streaming.compact", i)(Maintenance.compact(spark, tradesDir))
      val gone = tr.span("streaming.expire", i)(Maintenance.expireSnapshots(tradesDir))
      if (tr.enabled) {
        st.foreach { s =>
          tr.add(tr.tagOf(i, "streaming.compact"), "replaced", s.replaced.size.toDouble)
          tr.add(tr.tagOf(i, "streaming.compact"), "rewritten_mb",
            dirBytes(Paths.get(s"$tradesDir/data/batch=${s.newBatch}")) / 1048576.0)
        }
        tr.add(tr.tagOf(i, "streaming.expire"), "dirs", gone.size.toDouble)
      }
    }
  }

  private def lastRejects(dir: String): Long = {
    val log = Paths.get(dir, "_snapshots.jsonl")
    if (!Files.exists(log)) 0L
    else Files.readAllLines(log).asScala.lastOption
      .flatMap(l => "\"rejects\":(\\d+)".r.findFirstMatchIn(l)).map(_.group(1).toLong).getOrElse(0L)
  }

  private def listFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close() }

  private def dirBytes(p: Path): Long = listFiles(p).map(Files.size).sum

  // ---------------------------------------------------------------- suites

  /** Canonical, order-free fingerprint of a result: rows rendered with
    * doubles at 9 significant digits (the last bits of a float sum depend on
    * shuffle arrival order), sorted, hashed. */
  def render(rows: Seq[Row]): String = rows.map(renderRow).sorted.mkString("\n")
  private def renderValue(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => renderValue(f.toDouble)
    case r: Row => renderRow(r)
    case s: scala.collection.Seq[_] => s.map(renderValue).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => renderValue(k) + ":" + renderValue(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }
  private def renderRow(r: Row): String = r.toSeq.map(renderValue).mkString("(", ",", ")")
  def fingerprint(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(render(rows).getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
  }

  private def hot(spark: SparkSession): Unit = spark.conf.set("spark.graft.tableCache", "memory")

  /** Runs `body` under a job group that a watchdog cancels after
    * OpTimeoutS; the cancelled op fails. Work outside the job group (a
    * streaming query's own jobs) waits at most `remainingMs`. */
  final class Watchdog(spark: SparkSession) {
    private val ex = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }
    private var deadline = Option.empty[Long]
    def apply[T](group: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      deadline = Some(System.nanoTime + OpTimeoutS * 1000000000L)
      val f = ex.schedule(new Runnable { def run(): Unit = spark.sparkContext.cancelJobGroup(group) }, OpTimeoutS, TimeUnit.SECONDS)
      try body finally { f.cancel(false); deadline = None; spark.sparkContext.clearJobGroup() }
    }
    /** Time left in the current op, or a whole op's time outside one. */
    def remainingMs: Long = deadline.fold(OpTimeoutS * 1000)(d => math.max(1L, (d - System.nanoTime) / 1000000))
    def stop(): Unit = ex.shutdownNow()
  }

  def runSuite(spark: SparkSession, tr: Tracer, o: Opts, rep: Report): Unit = {
    val data = o("data")
    val spec = new ObjectMapper().readTree(new java.io.File(o("keys"))).get(o("set"))
    val keys = spec.fieldNames.asScala.toIndexedSeq.sorted
    val golden = keys.map(k => k -> spec.get(k)).toMap
    val q = SparkEntry.queries
    val dog = new Watchdog(spark)
    hot(spark)
    rep.info("keys", keys.size)
    // untimed verification pass (also the hot warm-up): keys with a DuckDB
    // twin must reproduce their golden fingerprint, the others must return
    // rows (the driver's rows-only check); a key that fails it fails every
    // timed op
    val verified = rep.timed("verify_pass_s")(keys.map { k =>
      val ok = try dog(s"verify-$k") {
        val rows = q(k)(spark, data).collect().toSeq
        val g = golden(k)
        if (g.get("twin").asBoolean) rows.length == g.get("rows").asLong && g.get("hash").asText == fingerprint(rows)
        else rows.nonEmpty
      } catch { case e: Throwable => System.err.println(s"[perfbench] verify $k: ${e.getMessage}"); false }
      finally Engine.reapLocalCheckpoints(spark)
      if (!ok) System.err.println(s"[perfbench] $k failed verification")
      k -> ok
    }.toMap)
    rep.info("verified", verified.count(_._2))
    // untimed settle passes in the timed op's own shape
    rep.info("settle_passes", SettlePasses)
    rep.timed("settle_pass_s")((1 to SettlePasses).foreach(_ =>
      keys.foreach(k => suiteOp(spark, tr, dog, q, data, k, -1, verified(k)))))
    val seed = o.long("seed", 1)
    var order = Seq.empty[String]
    var pass = 0
    // the window ends at the deadline, mid-pass: ending on a pass boundary
    // made the op count jump by a whole pass between runs
    rep.window(o.long("seconds")) { i =>
      if (order.isEmpty) { order = new scala.util.Random(seed * 7919 + pass).shuffle(keys); pass += 1 }
      val k = order.head
      order = order.tail
      suiteOp(spark, tr, dog, q, data, k, i, verified(k))
    }
    rep.info("passes_started", pass)
    dog.stop()
  }

  /** One suite op: build the key's DataFrame, execute it into the noop sink;
    * then reap its checkpoints outside the op's latency. */
  def suiteOp(spark: SparkSession, tr: Tracer, dog: Watchdog, q: Map[String, (SparkSession, String) => DataFrame],
      data: String, k: String, i: Int, verified: Boolean): Op = {
    val start = System.nanoTime
    val res = try {
      dog(s"op-$i") {
        tr.span("op", i) {
          val df = tr.span("operators.build", i)(q(k)(spark, data))
          tr.span("exec", i)(df.write.mode("overwrite").format("noop").save())
        }
      }
      Op(i, k, (System.nanoTime - start) / 1e6, verified, if (verified) "" else "failed verification")
    } catch { case e: Throwable => Op(i, k, (System.nanoTime - start) / 1e6, ok = false, String.valueOf(e.getMessage).take(200)) }
    val reaped = tr.span("engine.reap", i)(Engine.reapLocalCheckpoints(spark))
    if (tr.enabled) tr.add(tr.tagOf(i, "engine.reap"), "reaped", reaped.toDouble)
    res
  }

  /** Re-derives the eager/lazy split and the goldens: a hot warm-up pass and
    * a settle pass over every key, then two traced passes counting each
    * key's build-time jobs and two fingerprint passes. `twin` marks keys
    * with a DuckDB twin in SparkEntry.oracleSql. */
  def runSplit(spark: SparkSession, tr: Tracer, o: Opts, rep: Report): Unit = {
    require(tr.enabled, "split needs --trace 1")
    val data = o("data")
    val q = SparkEntry.queries
    val keys = q.keys.toIndexedSeq.sorted
    val dog = new Watchdog(spark)
    hot(spark)
    var i = 0
    def pass(): Map[String, (Double, Double)] = keys.map { k =>
      val op = suiteOp(spark, tr, dog, q, data, k, i, verified = true)
      if (!op.ok) System.err.println(s"[perfbench] $k failed: ${op.error}")
      i += 1
      k -> (tr.count(i - 1, "operators.build", "jobs"), op.ms)
    }.toMap
    pass(); pass()
    val timed = Seq(pass(), pass())
    val jobs = timed.map(_.map { case (k, v) => k -> v._1 })
    val hotMs = keys.map(k => k -> (timed(0)(k)._2 + timed(1)(k)._2) / 2).toMap
    def prints(): Map[String, (Long, String)] = keys.map { k =>
      val rows = try q(k)(spark, data).collect().toSeq finally Engine.reapLocalCheckpoints(spark)
      k -> (rows.length.toLong, fingerprint(rows))
    }.toMap
    val fp = Seq(prints(), prints())
    val twins = SparkEntry.oracleSql.keySet
    val out = new StringBuilder("{\n")
    out ++= keys.map { k =>
      val stable = fp(0)(k) == fp(1)(k)
      val hash = if (stable) s""""${fp(0)(k)._2}"""" else "null"
      s"""  "$k": {"build_jobs": [${jobs(0)(k).toLong}, ${jobs(1)(k).toLong}], "hot_ms": ${"%.1f".format(hotMs(k))}, "rows": ${fp(0)(k)._1}, "hash": $hash, "twin": ${twins(k)}}"""
    }.mkString(",\n")
    out ++= "\n}\n"
    Files.write(Paths.get(o("out")), out.toString.getBytes("UTF-8"))
    rep.info("keys", keys.size)
    dog.stop()
  }
}
