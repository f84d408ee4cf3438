package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t, dsum, tsStr, davg, fround}
import graft.Tables.PinOps

/** SURVEY.md §2.4 Q31–Q32 + E6 (as-of join) + E25 (session window), batch
  * forms. The same window()/session_window() expressions run unchanged under
  * readStream (streaming package) — these batch twins are what the DuckDB
  * oracle can check.
  */
object TemporalQueries {
  import CoreQueries.Q

  /** Q31 — tumbling 1h event-time window (E23). window().start ≡
    * date_trunc('hour') for a 1h/epoch-aligned window. */
  val q31: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("sv"))
      .select(tsStr(col("window.start")).as("h"), col("event_type"), col("n"), col("sv"))
      .orderBy(col("h"), col("event_type"))

  /** Q32 — sliding 1h/15m window (E24): each event lands in 4 windows. */
  val q32: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(tsStr(col("window.start")).as("window_start"), col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  /** Q33 — as-of join (E6): for each purchase, the nearest-earlier error
    * event of the same user. Spark has no native as-of join; the idiomatic
    * distributed form is the union trick: tag both sides, sort within the
    * user partition by (ts, tag), and carry the last-seen error id forward
    * with a running `last(ignoreNulls)` window. One shuffle on user_id, state
    * bounded per key — the same shape DuckDB's ASOF JOIN (the oracle)
    * computes with a sort-merge.
    * Reference note: the reference has no as-of (SURVEY §2.3); this is the
    * north-star extension implemented per SURVEY §2.2 E6. */
  val q33: Q = (s, d) => {
    val ev = t(s, d, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id").as("err_id"), lit(0).as("tag"),
        lit(null).cast("long").as("p_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("err_id"), lit(1).as("tag"),
        col("event_id").as("p_id"))
    // (ts, tag) order puts an error before a purchase at the same instant —
    // matching ASOF's inclusive p.ts >= e.ts; err_id tiebreak makes the
    // carried value deterministic if two errors share a timestamp.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("tag"), col("err_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    errors.unionAll(purchases)
      .withColumn("prev_error_id", last(col("err_id"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("p_id").as("event_id"), col("prev_error_id"))
      .orderBy(col("event_id"))
  }

  /** Q34 — session window, batch form (E25): 30-minute-gap sessions per user.
    * session_window() merges windows that overlap under the gap; the oracle
    * is the classic gaps-and-islands SQL. */
  val q34: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        tsStr(col("session_window.start")).as("s_start"),
        tsStr(col("session_window.end")).as("s_end"),
        col("n"))
      .orderBy(col("user_id"), col("s_start"))

  /** x35 — q34's batch fast path: repartition by user, sort within
    * partitions, one linear typed pass per partition. Value-identical to
    * q34 (same oracle) and measured −30% (BASELINE.md §q34 session-window
    * attribution): the hand-rolled merge adds ~zero CPU on top of the
    * exchange+sort floor, where `session_window`'s generic merge machinery
    * adds ~0.15 s. mapPartitions is deliberate here — sessionization is a
    * per-key linear scan, exactly the "genuine per-partition imperative
    * logic" case; the streaming-unified `session_window` form (q34)
    * remains the default. */
  val x35: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val ev = t(s, d, "events").select(col("user_id"), col("ts"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"))
      // cast("timestamp") is a no-op on TIMESTAMP and an exact
      // reinterpretation on TIMESTAMP_NTZ (UTC-pinned session) — keeps
      // strict unix_micros working whichever physical type the parquet had.
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tsl"), col("ts"))
    val gapUs = 1800000000L // 30 minutes
    val sessions = ev.as[(Long, Long, java.sql.Timestamp)].mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, java.sql.Timestamp, Long, Long)]
      var curUser = Long.MinValue
      var start: java.sql.Timestamp = null
      var lastL = 0L
      var n = 0L
      def flush(): Unit = if (n > 0) out += ((curUser, start, lastL, n))
      for ((u, tl, tts) <- it) {
        if (u != curUser || tl - lastL >= gapUs) {
          flush(); curUser = u; start = tts; n = 0
        }
        lastL = tl; n += 1
      }
      flush()
      out.iterator
    }.toDF("user_id", "start", "last_l", "n")
    sessions.select(col("user_id"), tsStr(col("start")).as("s_start"),
      tsStr(timestamp_micros(col("last_l") + gapUs)).as("s_end"), col("n"))
      .orderBy(col("user_id"), col("s_start"))
  }

  /** x95 — time-series resample + gap-fill (E90): regularize the event
    * stream onto a dense hourly grid per event_type and carry the last
    * observation forward (LOCF — the standard step before feeding irregular
    * telemetry to anything that expects fixed-step series). Hours with no
    * observation are flagged (`is_gap`) and inherit the previous filled
    * value; hours before a type's first observation stay NULL.
    *
    * 100 TB shape: the observation agg is map-side-combined on (type,
    * hour); the GRID is bounded by time-range × types — independent of
    * event count — generated from a 1-row global bounds agg crossed with
    * the type dimension (the benign scalar-broadcast shape); the LOCF
    * window partitions by type and orders by hour, so its cost tracks the
    * grid, not the data, and an enormous time range decomposes by range-
    * bucketing the window (the x72 escape). Determinism: the per-bucket
    * value is davg (fix-point sum / count — exact under any reduction
    * order), so the carried value is the same double on both engines. */
  val x95: Q = (s, d) => {
    val ev = t(s, d, "events")
    val obs = ev.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_obs"), graft.Tables.davg(col("value")).as("v"))
    val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "h"), "left")
      .select(col("event_type"), tsStr(col("h")).as("h"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        graft.Tables.fround(last(col("v"), ignoreNulls = true).over(w), 6).as("filled"),
        col("n_obs").isNull.as("is_gap"))
      .orderBy(col("event_type"), col("h"))
  }

  /** The x97 funnel: ordered step sequence a user must pass through. */
  private[graft] val funnelSteps = Seq("view", "click", "purchase")

  /** x97 — ordered funnel analysis (E92): how many users complete
    * view → click → purchase IN ORDER (each step strictly after the
    * previous one in the user's event sequence). One row_number window
    * per user (deterministic total order by (ts, event_id)), then a chain
    * of conditional-min joins: step k's earliest qualifying position is
    * min(rn) over that step's events AFTER step k−1's position.
    *
    * 100 TB shape: the window and every join key on user_id — one shuffle,
    * re-used co-partitioned across the chain (exchange reuse); per-step
    * frames shrink monotonically (only converting users survive), and the
    * output is |steps| rows. The degenerate-user bound is the per-user
    * event count (the q18 window posture). */
  val x97: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // same materialization discipline as deadlineStages (r19, guide §2.4):
    // r re-ran ~K² times across the per-stage aggs, each stage twice
    val r = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .pin
    val stages = funnelSteps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val mine = r.filter(col("event_type") === step)
        val gated = prev match {
          case None => mine
          case Some(p) => mine.join(p, "user_id").filter(col("rn") > col("r"))
        }
        Some(gated.groupBy(col("user_id")).agg(min(col("rn")).as("r"))
          .pin)
    }.flatten
    stages.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit((i + 1).toLong).as("step"), lit(funnelSteps(i)).as("event_type"),
          col("users"))
    }.reduce(_.union(_)).orderBy(col("step"))
  }

  /** x98 — weekly cohort retention (E93): users grouped by first-seen week,
    * activity counted per (cohort, week-offset) — the retention matrix.
    * Two map-side-combined aggs + one co-partitioned join on user_id; the
    * matrix is bounded by weeks², independent of event count. */
  val x98: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    ev.join(first, "user_id")
      .groupBy(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long").as("wk_offset"))
      .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n_events"))
      .select(col("cohort").cast("date").cast("string").as("cohort"),
        col("wk_offset"), col("users"), col("n_events"))
      .orderBy(col("cohort"), col("wk_offset"))
  }

  /** x99 — SCD Type-2 history build (E97): compress each user's event-type
    * change log into versioned validity intervals — the slowly-changing-
    * dimension table a warehouse maintains for "what was this entity's
    * state at time T" queries. Consecutive duplicates collapse (only CHANGE
    * rows survive), `valid_from` = the change's timestamp, `valid_to` = the
    * next change's (NULL ⇒ current), `version` numbers the history.
    *
    * 100 TB shape: ONE shuffle on user_id reused across both windows (the
    * lag that detects changes and the lead/row_number that close intervals
    * run over the same partitioning — Catalyst plans a single exchange +
    * sort); the survivor frame shrinks to the change count before the
    * second window touches it. Deterministic total order by (ts, event_id)
    * — the q18 window posture; per-user state is the per-key sort, never
    * global. */
  val x99: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    changes
      .select(col("user_id"),
        row_number().over(w2).cast("long").as("version"),
        col("event_type").as("state"),
        tsStr(col("ts")).as("valid_from"),
        tsStr(lead(col("ts"), 1).over(w2)).as("valid_to"),
        lead(col("ts"), 1).over(w2).isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Minimum prior observations before x104 scores a point. */
  private val madMinPrior = 12

  /** Exact median of a (sorted-on-demand) array column — shared by x104's
    * rolling median and MAD. Even counts average the two middles, matching
    * quantile_cont(0.5); the twin replays the identical sorted-element
    * arithmetic rather than trusting cross-engine median semantics. */
  private def arrMedian(a: Column): Column = {
    val srt = array_sort(a)
    val n = size(a)
    when(n % 2 === 1, element_at(srt, ((n + 1) / 2).cast("int")))
      .otherwise((element_at(srt, (n / 2).cast("int")) +
        element_at(srt, (n / 2 + 1).cast("int"))) / 2.0)
  }

  /** x104 — rolling-median/MAD anomaly detection (E98): score each hourly
    * observation of the per-type value series against the ROBUST location/
    * scale of its trailing 24 observations (≈24 h on a dense series) —
    * |v − median| > 3·1.4826·MAD flags the
    * point (1.4826 rescales MAD to σ under normality). Median/MAD, not
    * mean/stddev, so a burst of outliers cannot mask itself by inflating
    * the baseline — the standard telemetry/data-drift monitor.
    *
    * 100 TB shape: the hourly pre-aggregation is the x95 map-side-combined
    * (type, hour) agg, so the windowed series is bounded by time-range ×
    * types, independent of event count; the trailing frame materializes
    * ≤24 doubles per grid row (collect_list over a ROWS frame — bounded by
    * construction, the deliberate exception to expression-only windows);
    * scoring is per-row expression arithmetic. Points with <12 prior
    * observations emit NULL scores and is_anom=false (warm-up guard). */
  val x104: Q = (s, d) => {
    val hourly = t(s, d, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(davg(col("value")).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-24, -1)
    val k = 3 * 1.4826
    val framed = hourly.withColumn("prior", collect_list(col("v")).over(w))
    framed
      .withColumn("n_prior", size(col("prior")).cast("long"))
      .withColumn("med", when(col("n_prior") >= madMinPrior, arrMedian(col("prior"))))
      .withColumn("mad", when(col("n_prior") >= madMinPrior,
        arrMedian(transform(col("prior"), p => abs(p - col("med"))))))
      .select(col("event_type"), tsStr(col("h")).as("h"), fround(col("v"), 6).as("v"),
        col("n_prior"), fround(col("med"), 6).as("med"), fround(col("mad"), 6).as("mad"),
        coalesce(abs(col("v") - col("med")) > lit(k) * col("mad"), lit(false)).as("is_anom"))
      .orderBy(col("event_type"), col("h"))
  }

  /** x118 — SCD2 point-in-time join (E116): enrich a fact stream with the
    * dimension version VALID AT fact time — the lookup every
    * feature-store / training-data pipeline must get right to avoid
    * label leakage (using a dim state written AFTER the fact happened).
    * The split is deterministic (even event_ids build the x99-style SCD2
    * state history, odd event_ids probe it), and each probe finds the
    * interval [valid_from, valid_to) covering its timestamp — or
    * 'unseen' when the user has no history yet, the cold-start row a
    * leakage-free pipeline must surface rather than backfill. Output is
    * the prior-state × observed-event transition matrix.
    *
    * 100 TB shape: ONE equi-join co-partitioned on user_id with the
    * interval predicate as the join residual — per-user version chains
    * are change-count-bounded and intervals are disjoint, so each probe
    * row matches ≤1 version and the join never multiplies; no bucket
    * decomposition needed because the equi key already co-locates
    * (x110 is the keyless case). The windows building the SCD2 side
    * share one user_id exchange (the x99 posture). */
  val x118: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = ev.filter(col("event_id") % 2 === 0)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val scd = changes.select(col("user_id").as("su"),
      col("event_type").as("state"), col("ts").as("vf"),
      lead(col("ts"), 1).over(w).as("vt"))
    val probes = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("pu"), col("event_type").as("ptype"), col("ts").as("pts"))
    probes.join(scd,
        col("su") === col("pu") && col("vf") <= col("pts") &&
          (col("vt").isNull || col("pts") < col("vt")), "left")
      .groupBy(coalesce(col("state"), lit("unseen")).as("prior_state"),
        col("ptype").as("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("pu")).as("n_users"))
      .orderBy(col("prior_state"), col("event_type"))
  }

  /** x123 window length (hours) and result size. */
  private val tsimW = 12
  private val tsimK = 10

  /** x123 — time-series subsequence similarity search (E122): find the
    * top-k hourly windows most similar to a query pattern under
    * Z-NORMALIZED Euclidean distance — the similarity measure the
    * time-series literature settled on (shape match, invariant to level
    * and amplitude; UCR-suite/Matrix-Profile lineage, and the EDBT 2019
    * streaming-similarity setting in PAPERS.md). Pipeline: hourly davg
    * series per event type (the x95 pre-agg) → all w=12-hour contiguous
    * windows via ONE frame window per type (contiguity asserted on the
    * hour stamps, flat σ=0 windows dropped — z-norm is undefined there)
    * → each window z-normalizes against its own (μ,σ) → distance to the
    * broadcast query window (the earliest full 'purchase' window) →
    * bounded top-k. All array folds are LEFT-TO-RIGHT (Spark `aggregate`
    * ≡ the twin's list_aggregate — the proven dotSql order convention),
    * μ/σ/distance are the identical IEEE chains on both engines, and
    * ranking uses the UNROUNDED distance with (type, start) ties.
    *
    * 100 TB shape: everything downstream of the scan is GRID-bounded
    * (types × hours, the x95 posture) — windows materialize w doubles
    * per grid row, the query is a 1-row broadcast, the sweep is map-only
    * + a bounded TopK sort. The streaming form is E84's shape: each
    * micro-batch's new windows score against the standing query set. */
  /** The z-normalizable window frame shared by x123 (query search) and
    * x125 (motif discovery): all contiguous w-hour windows per type with
    * their (μ, σ), flat windows dropped. */
  private def tsimWins(s: SparkSession, d: String): DataFrame = {
    val w = tsimW
    val hourly = t(s, d, "events")
      .select(col("event_type").as("typ"), date_trunc("hour", col("ts")).as("h"),
        col("value"))
      .groupBy(col("typ"), col("h"))
      .agg(fround(davg(col("value")), 6).as("v"))
    val frame = Window.partitionBy(col("typ")).orderBy(col("h"))
      .rowsBetween(Window.currentRow, w - 1)
    hourly
      .withColumn("vs", collect_list(col("v")).over(frame))
      .withColumn("hs", collect_list(col("h")).over(frame))
      .filter(size(col("vs")) === w &&
        element_at(col("hs"), w) === element_at(col("hs"), 1) + expr(s"INTERVAL ${w - 1} HOURS"))
      .select(col("typ"), col("h"), col("vs"))
      .withColumn("mu", aggregate(col("vs"), lit(0.0), (a, x) => a + x) / w)
      .withColumn("sd", sqrt(
        aggregate(col("vs"), lit(0.0),
          (a, x) => a + (x - col("mu")) * (x - col("mu"))) / w))
      .filter(col("sd") > 0)
      // materialized ONCE (r19, guide §2.4): x123 references it twice (the
      // query-row action + the sweep) and x125's self-join twice with
      // different aliases (no exchange reuse) — each lazy eval re-ran the
      // hourly agg + the collect_list window. Bounded: types × grid hours.
      .pin
  }

  val x123: Q = (s, d) => {
    val wins = tsimWins(s, d)
    // the query window is ONE bounded row (the seeds/probes collect
    // precedent) — embedding it as literals keeps the sweep a pure map,
    // no scalar join in the plan at all
    val qRow = wins.filter(col("typ") === "purchase").orderBy(col("h")).limit(1)
      .select(col("typ"), col("h"), col("vs"), col("mu"), col("sd")).head()
    val (qtyp, qh) = (qRow.getString(0), qRow.getTimestamp(1))
    val qvs = qRow.getSeq[Double](2)
    val (qmu, qsd) = (qRow.getDouble(3), qRow.getDouble(4))
    wins.filter(!(col("typ") === qtyp && col("h") === lit(qh)))
      .withColumn("dist_raw", sqrt(
        aggregate(
          zip_with(col("vs"), typedLit(qvs), (x, y) =>
            ((x - col("mu")) / col("sd") - (y - qmu) / qsd) *
              ((x - col("mu")) / col("sd") - (y - qmu) / qsd)),
          lit(0.0), (a, x) => a + x)))
      .orderBy(col("dist_raw"), col("typ"), col("h")).limit(tsimK)
      .select(col("typ"), tsStr(col("h")).as("win_start"),
        fround(col("dist_raw"), 6).as("zdist"))
  }

  /** x125 — time-series motif discovery (E123): each type's most similar
    * NON-OVERLAPPING window pair under the x123 z-distance — the
    * Matrix-Profile question ("does this series repeat itself, and
    * where?") answered exactly: recurring daily/weekly routines surface
    * as near-zero motifs, regime-change series don't. Overlap exclusion
    * (b starts after a ends) is the standard trivial-match guard —
    * without it every window pairs with its one-hour shift. The pair
    * generator is an equi-self-join ON TYPE (co-partitioned); its
    * fan-out is GRID² per type — windows are hours, not rows, so a year
    * of history is ~9 k windows → 40 M z-distance evaluations per type,
    * a map-only sweep a cluster absorbs; past that the banded z-prefix
    * path below prunes candidates, gated on grid size. */

  /** Banded-escape gate: the exact GRID²-per-type self-join runs while the
    * per-type window count stays below this; above it (multi-year,
    * many-type histories) the quantized z-prefix LSH path generates
    * candidates instead. The gate reads a conservative grid BOUND from the
    * events min/max timestamps (a parquet-footer-stats aggregate — no
    * grid-sized job), so choosing the path costs a near-metadata scan. */
  private def motifBandedThreshold(s: SparkSession): Long =
    s.conf.get("spark.graft.motif.bandedThreshold", "20000").toLong
  /** Bands over the w=12 z-values: 4 bands × 3 values, quantized to 0.5
    * cells. A motif pair matching exactly in ANY band is a candidate —
    * near-identical window pairs (the motif regime: z-dist ≈ 0) agree in
    * every quantized cell, so they collide in all 4 bands. */
  private val motifBands = 4
  private val motifCell = 0.5

  /** Shared back half of both motif paths: exact MASS-form distance over
    * candidate pairs + per-type argmin. MASS form: each window
    * z-normalizes ONCE (zs = (v−μ)/σ) and d² = 2w − 2·⟨za, zb⟩ (‖z‖² = w
    * by construction) — one 12-mul dot per pair; greatest(0, ·) clamps
    * the 1-ulp negative a self-identical pair can produce. 6.2→2.9 s sf1. */
  private def motifRank(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("dot",
        graft.functions.VectorExprs.doubleDot(col("azs"), col("bzs")))
      .withColumn("dist_raw",
        sqrt(greatest(lit(0.0), lit(2.0 * tsimW) - col("dot") * 2.0)))
      // per-type argmin as a struct-MIN aggregate (r19, guide §2.3): the
      // row_number window sorted EVERY candidate pair per type (grid²
      // rows) just to keep row 1; min(struct(dist, ah, bh)) is the same
      // lexicographic pick (identical tie order), runs as a map-side-
      // combined hash agg, and shuffles one row per (type, partition).
      .groupBy(col("typ"))
      .agg(min(struct(col("dist_raw"), col("ah"), col("bh"))).as("m"))
      .select(col("typ"), tsStr(col("m.ah")).as("motif_a"),
        tsStr(col("m.bh")).as("motif_b"),
        fround(col("m.dist_raw"), 6).as("zdist"))

  private[graft] def motifWinz(s: SparkSession, d: String): DataFrame =
    tsimWins(s, d)
      .withColumn("zs", transform(col("vs"), x => (x - col("mu")) / col("sd")))
      .select(col("typ"), col("h"), col("zs"))

  private def motifSide(winz: DataFrame, p: String): DataFrame =
    winz.select(col("typ"), col("h").as(s"${p}h"), col("zs").as(s"${p}zs"))

  private def motifNonOverlap: Column =
    col("ah") + expr(s"INTERVAL ${tsimW - 1} HOURS") < col("bh")

  /** Exact path: GRID²-per-type equi-self-join on type (co-partitioned). */
  private[graft] def motifExact(winz: DataFrame): DataFrame =
    motifRank(motifSide(winz, "a").join(motifSide(winz, "b"), Seq("typ"))
      .filter(motifNonOverlap))

  /** Banded path (the x41 band pattern on quantized z-prefixes): each
    * window emits `motifBands` (band, quantized-slice) keys; candidates
    * are same-type windows agreeing EXACTLY in at least one band, deduped
    * on (typ, ah, bh), then exact-verified by the shared MASS distance.
    * Per-band fan-out is bucket²; strong motifs (z-dist ≈ 0) collide in
    * every band, so they are always candidates — the approximation is
    * that a type whose best pair differs in all 4 quantized prefixes
    * reports the best COLLIDING pair instead (or no row if none collide),
    * the standard LSH recall trade documented in SCALING.md. */
  private[graft] def motifBanded(winz: DataFrame): DataFrame = {
    val bandR = tsimW / motifBands
    val wq = winz.withColumn("qz",
      transform(col("zs"), x => floor(x / motifCell).cast("long")))
    val banded = wq.select(col("typ"), col("h"), col("zs"),
        explode(array((0 until motifBands).map(b =>
          struct(lit(b).as("band"), slice(col("qz"), b * bandR + 1, bandR).as("key"))): _*)).as("bk"))
      .select(col("typ"), col("bk.band").as("band"), col("bk.key").as("key"),
        col("h"), col("zs"))
    def side(p: String) = banded.select(col("typ"), col("band"), col("key"),
      col("h").as(s"${p}h"), col("zs").as(s"${p}zs"))
    val cand = side("a").join(side("b"), Seq("typ", "band", "key"))
      .filter(motifNonOverlap)
      .select(col("typ"), col("ah"), col("bh"), col("azs"), col("bzs"))
      .dropDuplicates("typ", "ah", "bh")
    motifRank(cand)
  }

  val x125: Q = (s, d) => {
    val winz = motifWinz(s, d)
    // grid BOUND per type = total hours spanned (footer-stats aggregate)
    val mm = t(s, d, "events").agg(min(col("ts")), max(col("ts"))).head()
    val gridBound =
      (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 3600000L + 1
    if (gridBound <= motifBandedThreshold(s)) motifExact(winz)
    else motifBanded(winz)
      .orderBy(col("typ"))
  }

  /** x129 per-step conversion deadline. */
  private val funnelDeadlineH = 24

  /** x129 — funnel with conversion deadlines (E129): x97's ordered funnel
    * under the constraint product analytics actually applies — each step
    * counts only if it happens WITHIN 24 h of the previous step's chosen
    * event (an unbounded funnel credits a purchase months after the
    * click; a deadline makes the steps a CAMPAIGN conversion). Each
    * stage now carries (position, timestamp) of its chosen event —
    * min(rn) picks it, min_by(ts, rn) rides the SAME aggregate (rn is
    * unique per user, so min_by is deterministic on both engines) — and
    * the next stage gates on BOTH order (rn > prev) and deadline
    * (ts ≤ prev_t + 24 h).
    *
    * 100 TB shape: identical to x97 — every stage keys on user_id (one
    * shuffle reused co-partitioned down the chain), per-step frames
    * shrink monotonically, output = |steps| rows. */
  /** The deadline-gated stage frames behind x129/x130: per step, each
    * surviving user's chosen (position, timestamp). */
  private def deadlineStages(s: SparkSession, d: String): Seq[DataFrame] = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // r19 (guide §2.4): the ranked-events frame is referenced by every
    // stage (K direct + K−1 via the previous stage's lineage — the full
    // user-partitioned sort re-ran ~K² times across x129's per-stage
    // aggs); each stage frame is itself referenced twice (next stage +
    // the caller's agg). One materialization apiece.
    val r = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .pin
    funnelSteps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val mine = r.filter(col("event_type") === step)
        val gated = prev match {
          case None => mine
          case Some(p) => mine.join(p, "user_id")
            .filter(col("rn") > col("r") &&
              col("ts") <= col("t") + expr(s"INTERVAL $funnelDeadlineH HOURS"))
        }
        Some(gated.groupBy(col("user_id"))
          .agg(min(col("rn")).as("r"), min_by(col("ts"), col("rn")).as("t"))
          .pin)
    }.flatten
  }

  val x129: Q = (s, d) => {
    val stages = deadlineStages(s, d)
    stages.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit((i + 1).toLong).as("step"), lit(funnelSteps(i)).as("event_type"),
          col("users"))
    }.reduce(_.union(_)).orderBy(col("step"))
  }

  /** x130 — time-to-convert distribution (E130): for users who complete
    * the deadline funnel, EXACT quantiles of the view→purchase delay —
    * the "how fast do converters convert" curve a campaign owner reads
    * next to x129's counts. Delays are exact micros (first-step chosen
    * ts to last-step chosen ts, both deadline-gated), quantiles by the
    * x108 rank-selection rule (⌊(n−1)q⌋, a PICKED element — bit-identical
    * cross-engine; the only float ops are the (n−1)·q multiply and the
    * final µs→hours division). One sort over the CONVERTER set (already
    * funnel-filtered — converters ≪ events; a skewed corpus spills the
    * sort, never the heap — the x108 posture), rendered in hours.
    */
  val x130: Q = (s, d) => {
    val stages = deadlineStages(s, d)
    val first = stages.head.select(col("user_id"), col("t").as("t1"))
    val last0 = stages.last.select(col("user_id"), col("t").as("tk"))
    val delays = first.join(last0, "user_id")
      .select(col("user_id"),
        (unix_micros(col("tk").cast("timestamp")) -
          unix_micros(col("t1").cast("timestamp"))).as("dus"))
    val byV = Window.orderBy(col("dus"), col("user_id"))
    val qsArr = array(Seq(0.25, 0.5, 0.75, 0.9).map(lit): _*)
    delays
      .withColumn("rn", row_number().over(byV))
      .crossJoin(broadcast(delays.agg(count(lit(1)).as("n")))) // 1-row global agg
      .withColumn("qs", filter(qsArr, q => col("rn") - 1 === floor((col("n") - 1) * q)))
      .filter(size(col("qs")) > 0)
      .withColumn("q", explode(col("qs")))
      .select(col("q"), fround(col("dus") / 3.6e9, 4).as("delay_hours"), col("n"))
      .orderBy(col("q"))
  }

  /** x131 — marketing attribution, first- and last-touch (E131): each
    * purchase credits a preceding view/click touch within a 24 h
    * lookback — LAST-touch (the default ad-platform model) and
    * FIRST-touch (the brand-discovery model) side by side, purchases
    * with no in-window touch crediting 'direct'. One user_id-
    * co-partitioned join bounds candidate touches per conversion to the
    * user's own events inside the lookback (at 100 TB the lookback IS
    * the fan-out bound — a 24 h window over a user's stream is
    * sessions-sized; an unbounded model would need the x110 bucket
    * decomposition); per-conversion credit picks by rank windows
    * partitioned on the purchase (deterministic (ts, event_id) ties),
    * the final agg is touch-type-bounded. */
  val x131: Q = (s, d) => {
    val ev = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid")).as("p")
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").as("tts"), col("event_type").as("ttype"),
        col("event_id").as("tid")).as("t")
    val joined = purchases.join(touches,
        col("p.user_id") === col("t.user_id") &&
          col("tts") <= col("pts") &&
          col("tts") > col("pts") - expr("INTERVAL 24 HOURS"), "left")
      .select(col("pid"), col("ttype"), col("tts"), col("tid"))
    def credit(model: String, order: Seq[org.apache.spark.sql.Column]) =
      joined.withColumn("rn", row_number().over(
          Window.partitionBy(col("pid")).orderBy(order: _*)))
        .filter(col("rn") === 1)
        .groupBy(coalesce(col("ttype"), lit("direct")).as("touch"))
        .agg(count(lit(1)).as("n"))
        .select(lit(model).as("model"), col("touch"), col("n"))
    credit("last", Seq(desc_nulls_last("tts"), desc_nulls_last("tid")))
      .unionAll(credit("first", Seq(asc_nulls_last("tts"), asc_nulls_last("tid"))))
      .orderBy(col("model"), col("touch"))
  }

  /** x132 — RFM segmentation (E132): the standard customer-value
    * segmentation — each user scored on Recency (last event vs corpus
    * horizon), Frequency (event count) and Monetary (exact fix-point
    * value sum), each dimension cut into ntile(5) buckets under a
    * DETERMINISTIC total order (metric + user_id tiebreak — ntile is
    * rank-based, so engine parity needs a total order, the x72 lesson),
    * and the segment grid reported with user counts. Bucket 1 = best
    * (most recent / most frequent / highest value).
    *
    * 100 TB shape: one map-side-combined per-user agg (the only
    * data-scale pass), three rank windows over the USER table (ntile is
    * a global sort per dimension — at extreme user counts each window
    * takes the x72 range-bucket decomposition; the segment agg is
    * 125-row bounded). */
  val x132: Q = (s, d) => {
    val ev = t(s, d, "events")
    val per = ev.groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("freq"),
        sum(round(col("value") * 100).cast("long")).as("mcents"))
    def bucket(name: String, order: Seq[org.apache.spark.sql.Column]) =
      ntile(5).over(Window.orderBy(order: _*)).as(name)
    val scored = per.select(col("user_id"),
      bucket("r_b", Seq(desc("last_ts"), col("user_id"))),
      bucket("f_b", Seq(desc("freq"), col("user_id"))),
      bucket("m_b", Seq(desc("mcents"), col("user_id"))))
    scored.groupBy(col("r_b"), col("f_b"), col("m_b"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("r_b").cast("long").as("r_b"), col("f_b").cast("long").as("f_b"),
        col("m_b").cast("long").as("m_b"), col("n_users"))
      .orderBy(col("r_b"), col("f_b"), col("m_b"))
  }

  /** x133 — next-event transition matrix (E133): the first-order Markov
    * estimate over each user's event sequence — P(next = b | current = a)
    * from consecutive pairs, the sequence-model complement of x118 (x118
    * asks "what STATE was the user in when this happened"; x133 asks
    * "what happens NEXT") and the input a journey simulator or
    * next-action model starts from. One lead window per user (the
    * funnel/SCD2 exchange reused), the matrix bounded by types², row
    * probabilities rational (count / row-total, one IEEE division). */
  val x133: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next", lead(col("event_type"), 1).over(w))
      .filter(col("next").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    tr.withColumn("row_n", sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        fround(col("n") / col("row_n"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** x134 — journey path mining (E134): the most common 3-event
    * sequences across user streams — the path-analysis report (x133's
    * matrix says what follows ONE step; paths expose multi-step habits
    * the matrix factorization hides, e.g. view→click→purchase vs
    * view→click→error). Two lead windows share x133's single user_id
    * exchange; path counts are a types³-bounded hash agg; top-10 by
    * (count desc, path) is a bounded TakeOrdered. */
  val x134: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("n1", lead(col("event_type"), 1).over(w))
      .withColumn("n2", lead(col("event_type"), 2).over(w))
      .filter(col("n2").isNotNull)
      .select(concat_ws(" > ", col("event_type"), col("n1"), col("n2")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("path")).limit(10)
  }

  /** x152 — TWAP: time-weighted average value per (event type, day)
    * (E156) — the irregular-sampling average the reference's trading
    * domain actually wants (`query_and_publish.py`'s per-symbol AVG
    * weights every tick equally; a burst of quotes in one minute then
    * skews the day). Each observation holds until the next one (the
    * standard step-function convention), the first interval starts at
    * the first observation, the last runs to day end — so the weights
    * are exact µs gaps.
    *
    * Determinism: cents × Δµs products are exact longs (≤ 8.6e15),
    * summed as DECIMAL(38,0) with the x142 hi·1e9+lo render (the per-day
    * sum sits within 5 % of 2⁵³ — too close to trust a raw long→double);
    * Σ Δµs is an exact long; the TWAP is one fixed IEEE division chain,
    * fround 6. Timestamp ties order by (ts, event_id) — the tied-away
    * row gets Δ = 0, so the choice is harmless but still total.
    *
    * 100 TB shape: ONE lead window per (type, day) partition (the
    * temporal family's standard co-partitioned exchange — x95/x133 share
    * it) + one map-side-combined agg to the types×days grid. */
  val x152: Q = (s, d) => {
    val dayUs = 86400000000L
    val e = t(s, d, "events").select(col("event_type"),
      to_date(col("ts")).as("day"), col("ts"), col("event_id"),
      round(col("value") * 100).cast("long").as("c"),
      unix_micros(col("ts")).as("tu"))
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val withDt = e.withColumn("dt",
      coalesce(lead(col("tu"), 1).over(w),
        unix_micros(col("day").cast("timestamp")) + lit(dayUs)) - col("tu"))
    val agg = withDt.groupBy(col("event_type"), col("day")).agg(
      count(lit(1)).as("n_events"),
      sum((col("c") * col("dt")).cast("decimal(38,0)")).as("scd"),
      sum(col("dt")).as("sd"), sum(col("c")).as("sc"))
    val scdD = expr("scd div 1000000000").cast("double") * lit(1e9) +
      expr("scd % 1000000000").cast("double")
    agg.select(col("event_type"), col("day"), col("n_events"),
        fround(scdD / col("sd").cast("double") / lit(100.0), 6).as("twap"),
        fround(col("sc").cast("double") / col("n_events").cast("double") / lit(100.0), 6)
          .as("mean_v"))
      .orderBy(col("event_type"), col("day"))
  }

  /** x153 — OHLC bars: open/high/low/close of `value` per (event type, day)
    * (E157) — the candlestick aggregation every market-data engine ships
    * (the reference's DuckDB would spell it arg_min/arg_max over ticks).
    * open/close are the values at the first/last observation under the
    * (ts, event_id) total order; high/low are plain min/max.
    *
    * Determinism: values go through the cents round first, so every
    * comparison and the final /100.0 render are exact-integer + one IEEE
    * division. The selection key is the (tu, event_id) total order —
    * Spark orders a two-field struct lexicographically inside min_by/
    * max_by; the twin packs the same pair into a HUGEINT (tu·10¹⁰ +
    * event_id, exact for any event_id < 10¹⁰) for arg_min/arg_max.
    * Identical total order ⇒ identical selection; only the key
    * representation differs.
    *
    * 100 TB shape: ONE map-side-combined aggregate to the types×days
    * grid — no window, no second exchange; min_by/max_by partials are
    * constant-size. This is the aggregate-only sibling of x152's
    * window-based integral. */
  val x153: Q = (s, d) => {
    val e = t(s, d, "events").select(col("event_type"),
      to_date(col("ts")).as("day"),
      round(col("value") * 100).cast("long").as("c"),
      struct(unix_micros(col("ts")).as("tu"), col("event_id")).as("k"))
    e.groupBy(col("event_type"), col("day")).agg(
        count(lit(1)).as("n_events"),
        min_by(col("c"), col("k")).as("oc"),
        max(col("c")).as("hc"), min(col("c")).as("lc"),
        max_by(col("c"), col("k")).as("cc"))
      .select(col("event_type"), col("day"), col("n_events"),
        (col("oc").cast("double") / 100.0).as("open"),
        (col("hc").cast("double") / 100.0).as("high"),
        (col("lc").cast("double") / 100.0).as("low"),
        (col("cc").cast("double") / 100.0).as("close"),
        (col("hc") - col("lc")).as("range_cents"))
      .orderBy(col("event_type"), col("day"))
  }

  /** x156 — Kaplan–Meier time-to-convert survival curve (E160): S(t) =
    * Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over conversion-day grid points — the
    * censoring-correct version of x130's converters-only quantiles
    * (dropping never-converters overstates conversion speed; KM keeps
    * them at risk until the observation window ends). Observation = per
    * user, first 'view' day → first subsequent 'purchase' day
    * (converted, e=1) or → corpus max day (right-censored, e=0).
    *
    * Determinism: the grid is exact integer (day durations, dᵢ/cᵢ/nᵢ
    * counts; nᵢ a suffix sum). The survival product is the one float —
    * an inherently sequential fold, so it runs LEFT-TO-RIGHT over the
    * ascending sorted grid array inside codegen'd higher-order
    * `aggregate` (the x125/x145 pre-agg discipline: events collapse to
    * the day grid FIRST, the O(G²) prefix folds run on a G ≈ day-span
    * array, never on rows); the twin replays the identical IEEE chain
    * with an ascending recursive CTE. fround 6 at render.
    *
    * 100 TB shape: two user-co-partitioned aggs (first view, first
    * conversion) + one map-side-combined grid agg; the grid singleton is
    * bounded by the calendar span, not the corpus. */
  val x156: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val mx = ev.agg(max(col("day")).as("mx")) // 1-row scalar broadcast
    val tv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("day")).as("v0"))
    val tp = ev.filter(col("event_type") === "purchase")
      .join(tv, "user_id").filter(col("day") >= col("v0"))
      .groupBy(col("user_id")).agg(min(col("day")).as("p0"))
    val obs = tv.join(tp, Seq("user_id"), "left").crossJoin(broadcast(mx))
      .select(
        when(col("p0").isNotNull, datediff(col("p0"), col("v0")))
          .otherwise(datediff(col("mx"), col("v0"))).cast("long").as("t"),
        when(col("p0").isNotNull, 1L).otherwise(0L).as("e"))
    val grid = obs.groupBy(col("t"))
      .agg(sum(col("e")).as("d"), sum(lit(1L) - col("e")).as("c"))
    val arr0 = grid.agg(array_sort(collect_list(struct(col("t"), col("d"), col("c")))).as("g"))
    val withN = arr0.select(transform(col("g"), x =>
      struct(x("t").as("t"), x("d").as("d"), x("c").as("c"),
        aggregate(filter(col("g"), y => y("t") >= x("t")), lit(0L),
          (acc, y) => acc + y("d") + y("c")).as("n"))).as("g2"))
    withN.select(explode(filter(col("g2"), x => x("d") > lit(0L))).as("x"), col("g2"))
      .select(col("x.t").as("t_days"), col("x.n").as("n_risk"),
        col("x.d").as("n_conv"), col("x.c").as("n_cens"),
        fround(aggregate(
          filter(col("g2"), y => y("d") > lit(0L) && y("t") <= col("x.t")),
          lit(1.0),
          (acc, y) => acc * (lit(1.0) - y("d").cast("double") / y("n").cast("double"))), 6)
          .as("survival"))
      .orderBy(col("t_days"))
  }

  /** SES smoothing factor for x157 — the same double literal is
    * interpolated into the twin, so both engines smooth with the
    * bit-identical constant. */
  private val sesAlpha = 0.3

  /** x157 — exponential-smoothing forecast + backtest (E161): simple
    * exponential smoothing (lₜ = lₜ₋₁ + α(yₜ − lₜ₋₁), α = 0.3) over each
    * event type's DENSE daily count series, with a one-step-ahead
    * backtest — the "can we forecast tomorrow's volume, and does the
    * model beat persistence" verb that closes the temporal family
    * (x104 flags anomalies, x145 locates level shifts, x146 fits the
    * trend; this one predicts). Gap days count 0 (the dense calendar,
    * x95's convention), or the recursion would silently skip them.
    *
    * Determinism: counts are exact integers on an exact calendar grid;
    * the level/MAE recursion is the one float and is inherently
    * sequential, so it runs LEFT-TO-RIGHT over the ascending sorted
    * array inside ONE codegen'd higher-order `aggregate` carrying a
    * (cnt, level, Σ|err|, Σ|naive err|, prev) struct — the x125/x145
    * grid-fold discipline; the twin replays the identical IEEE chain
    * with an ascending recursive CTE. The naive-baseline error sum is
    * all-integer. fround 6 renders; skill = 1 − mae/naive_mae (NULL when
    * the baseline is perfect).
    *
    * 100 TB shape: events collapse map-side to the types×days grid; the
    * fold runs on calendar-bounded arrays. One exchange. */
  val x157: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_type"), to_date(col("ts")).as("day"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val cal = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val cnts = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    val series = cal.join(cnts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("y"))
    val folded = series.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("g"))
      .select(col("event_type"), size(col("g")).cast("long").as("n_days"),
        aggregate(col("g"),
          struct(lit(0L).as("cnt"), lit(0.0).as("l"), lit(0.0).as("sae"),
            lit(0L).as("snae"), lit(0L).as("prev")),
          (acc, x) => {
            val y = x("y").cast("double")
            val first = acc("cnt") === 0L
            struct((acc("cnt") + 1L).as("cnt"),
              when(first, y).otherwise(acc("l") + lit(sesAlpha) * (y - acc("l"))).as("l"),
              when(first, lit(0.0)).otherwise(acc("sae") + abs(y - acc("l"))).as("sae"),
              when(first, lit(0L)).otherwise(acc("snae") + abs(x("y") - acc("prev"))).as("snae"),
              x("y").as("prev"))
          }).as("st"))
    val steps = (col("n_days") - 1L).cast("double")
    val mae = col("st.sae") / steps
    val nmae = col("st.snae").cast("double") / steps
    folded.select(col("event_type"), col("n_days"),
        fround(col("st.l"), 6).as("ses_forecast"),
        fround(mae, 6).as("ses_mae"),
        fround(nmae, 6).as("naive_mae"),
        when(col("st.snae") === 0L, lit(null).cast("double"))
          .otherwise(fround(lit(1.0) - mae / nmae, 6)).as("skill"))
      .orderBy(col("event_type"))
  }

  /** x167 ACF depth: lags 1..7 cover the weekly seasonality the generator
    * plants and the short-memory decay a curation pass screens for. */
  private val acfMaxLag = 7

  /** The dense per-type daily count series shared by x167/x168 — the x95
    * calendar convention (gap days count 0), same construction as x157. */
  private def dailySeries(s: org.apache.spark.sql.SparkSession, d: String) = {
    val ev = t(s, d, "events").select(col("event_type"), to_date(col("ts")).as("day"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val cal = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val cnts = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    cal.join(cnts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("y"))
  }

  /** x167 — lag-k autocorrelation function (E172): ACF of each event
    * type's DENSE daily count series at lags 1..[[acfMaxLag]] — the
    * memory/seasonality readout completing the series family (x145
    * locates a shift, x146 fits trend, x157 forecasts, x167 answers "how
    * far does today predict"): r_k near the white-noise band ⇒ SES is
    * the right model; a lag-7 spike ⇒ weekly seasonality x157 misses.
    *
    * Determinism: with ȳ = S/n rational, everything is multiplied
    * through by n² — num_k = Σ(n·yₜ−S)(n·yₜ₊ₖ−S), den = Σ(n·yₜ−S)² —
    * EXACT DECIMAL(38,0)/HUGEINT integers (n·y ~ 1e12 at 100 TB, squares
    * ~1e24 overflow longs); num may be negative so its SIGN is decided
    * on the integer and only |num|, den render to double (hi·1e9+lo, the
    * x142 discipline — div/% on non-negative values only); r = ±|num|/den
    * and the ±1.96/√(n−k) white-noise band are final IEEE, fround 6.
    *
    * 100 TB shape: rows collapse to the types×days grid FIRST (one
    * map-side-combined count); the lag join is the grid against itself,
    * co-partitioned on event_type (one exchange of 24-byte rows), the
    * per-type moment frame a broadcast ≤|types|-row join. */
  val x167: Q = (s, d) => {
    val series = dailySeries(s, d)
    val mom = series.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    val a = series.select(col("event_type"), col("day"), col("y"),
      explode(typedLit((1 to acfMaxLag).toArray)).as("lag"))
    val b = series.select(col("event_type").as("et_b"),
      col("day").as("day_b"), col("y").as("y_b"))
    val lagged = a.join(b,
        col("event_type") === col("et_b") &&
          col("day_b") === date_add(col("day"), col("lag")))
      .groupBy(col("event_type"), col("lag")).agg(
        sum((col("y") * col("y_b")).cast("decimal(38,0)")).as("ayy"),
        sum(col("y") + col("y_b")).as("byy"))
    def hilo(c: String) =
      expr(s"$c div 1000000000").cast("double") * lit(1e9) +
        expr(s"$c % 1000000000").cast("double")
    val nD = col("n").cast("decimal(38,0)")
    val out = lagged.join(broadcast(mom), "event_type")
      // num_k = n²·Σyₜyₜ₊ₖ − n·S·Σ(yₜ+yₜ₊ₖ) + (n−k)·S² — exact decimal
      .withColumn("num", nD * nD * col("ayy") -
        nD * col("sy") * col("byy") +
        (col("n") - col("lag")).cast("decimal(38,0)") * col("sy") * col("sy"))
      .withColumn("den", nD * nD * col("syy") -
        nD * col("sy").cast("decimal(38,0)") * col("sy"))
      .withColumn("anum", abs(col("num")))
    val sign = when(col("num") < 0, lit(-1.0)).otherwise(lit(1.0))
    val r = sign * hilo("anum") / hilo("den")
    val band = lit(1.96) / sqrt((col("n") - col("lag")).cast("double"))
    out.select(col("event_type"), col("lag").cast("long").as("lag"),
        col("n").as("n_days"),
        fround(r, 6).as("acf"),
        fround(band, 6).as("wn_band"),
        (abs(r) > band).as("significant"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** x168 — Mann–Kendall trend test (E173): the distribution-free
    * monotone-trend complement of x146's OLS slope (OLS assumes a linear
    * mean and is dragged by one outlier day; MK only asks "do later days
    * tend to exceed earlier days" — the screen you run BEFORE trusting a
    * fitted slope). S = Σᵢ<ⱼ sgn(yⱼ−yᵢ) over each type's dense daily
    * series, tie-corrected variance 18·Var = n(n−1)(2n+5) −
    * Σ_g t_g(t_g−1)(2t_g+5), z the continuity-corrected normal score.
    *
    * Determinism: S, the tie terms and 18·Var are EXACT integers (n is
    * calendar-bound — thousands of days — so n³ fits a long with 9
    * orders to spare); z = (S∓1)/√(Var) is the only float, one IEEE
    * div/sqrt tree, fround 6.
    *
    * 100 TB shape: the all-pairs self-join is GRID×GRID within a type
    * (days², calendar-bound — 4k pairs on 90 days, 6.6M on a decade —
    * independent of event count), co-partitioned on event_type; rows
    * collapsed to the grid before any join, tie histogram a second
    * grid-bounded agg, both merged on a ≤|types|-row frame. */
  val x168: Q = (s, d) => {
    val series = dailySeries(s, d)
    val pairs = series.as("a").join(series.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.y") - col("a.y")).cast("long")).as("s_stat"))
    val ties = series.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("tg"))
      .groupBy(col("event_type")).agg(
        count(lit(1)).cast("long").as("n_distinct"),
        sum(col("tg") * (col("tg") - 1L) * (lit(2L) * col("tg") + 5L)).as("tie18"),
        sum(col("tg")).as("n"))
    val out = pairs.join(ties, "event_type")
      .withColumn("var18",
        col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) - col("tie18"))
    val varD = col("var18").cast("double") / lit(18.0)
    val z = when(col("s_stat") > 0L, (col("s_stat").cast("double") - 1.0) / sqrt(varD))
      .when(col("s_stat") < 0L, (col("s_stat").cast("double") + 1.0) / sqrt(varD))
      .otherwise(lit(0.0))
    out.select(col("event_type"), col("n").as("n_days"),
        col("n_distinct"), col("s_stat"), col("var18"),
        fround(z, 6).as("z_score"),
        when(z > 1.96, "increasing").when(z < -1.96, "decreasing")
          .otherwise("none").as("trend"))
      .orderBy(col("event_type"))
  }

  /** x173 positivity shift: slopes are shifted by +2³¹ before the nano-unit
    * fix-point division so the integer division runs on POSITIVE operands
    * only — truncation and floor agree there, so Spark's `div` and
    * DuckDB's `//` produce the same fix-point. Valid while daily counts
    * stay below 2³¹ per (type, day) — ~2 billion events/day/type, an
    * order above the 100 TB design point's ~2e8. */
  private val tsShift = 2147483648L

  /** x173 — Theil–Sen robust trend slope (E178): the median of all
    * pairwise slopes (yⱼ−yᵢ)/(j−i) per type's dense daily series —
    * completing the trend triptych: x146 fits OLS (efficient, outlier-
    * dragged), x168 tests monotonicity (distribution-free, no magnitude),
    * x173 ESTIMATES the magnitude robustly (up to 29% contamination
    * cannot move it — the slope you act on when x168 says "trend" but
    * one flood day owns the OLS fit).
    *
    * Determinism: a slope is a RATIONAL; ordering rationals cross-engine
    * is done by fix-pointing each to nano-units FIRST (the x164
    * discipline): fp = (num + shift·den)·1e9 div den − shift·1e9 — exact
    * integer arithmetic (DECIMAL(38,0)/HUGEINT product), positive-operand
    * division (see [[tsShift]]), so every engine holds the identical
    * BIGINT multiset; the median picks by ROW POSITION among sorted
    * values (equal values interchangeable — selection is tie-free), the
    * even case averages two exact integers; one long→double conversion +
    * IEEE divide at the very end, fround 6.
    *
    * 100 TB shape: pairs are GRID×GRID within a type (days², calendar-
    * bound — the x168 posture) co-partitioned on event_type; the median
    * is one window sort over the per-type pair set (4k rows on 90 days),
    * never over data rows. */
  val x173: Q = (s, d) => {
    val series = dailySeries(s, d)
    val wRn = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val sI = series.withColumn("i", row_number().over(wRn).cast("long"))
    val b = sI.select(col("event_type").as("et_b"),
      col("i").as("j"), col("y").as("y_j"))
    val pairs = sI.join(b, col("event_type") === col("et_b") && col("j") > col("i"))
      .withColumn("fp", expr(
        s"CAST(y_j - y + ${tsShift}L * (j - i) AS DECIMAL(38,0)) * 1000000000" +
          s" div (j - i) - ${tsShift}L * 1000000000"))
    val wV = Window.partitionBy(col("event_type")).orderBy(col("fp"))
    val wN = Window.partitionBy(col("event_type"))
    val sel = pairs
      .withColumn("rn", row_number().over(wV))
      .withColumn("m", count(lit(1)).over(wN))
      .filter(col("rn") === expr("(m + 1) div 2") || col("rn") === expr("(m + 2) div 2"))
      .groupBy(col("event_type")).agg(
        max(col("m")).as("n_pairs"), count(lit(1)).as("n_mid"),
        sum(col("fp")).as("sfp"))
    val nDays = series.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    sel.join(broadcast(nDays), "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        fround(col("sfp").cast("double") /
          (col("n_mid").cast("double") * lit(1e9)), 6).as("ts_slope"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    "x167_acf" -> x167,
    "x168_mann_kendall" -> x168,
    "x173_theil_sen" -> x173,
    "x157_ses_forecast" -> x157,
    "x156_kaplan_meier" -> x156,
    "x153_ohlc" -> x153,
    "x152_twap" -> x152,
    "x134_journey_paths" -> x134,
    "x133_markov_transitions" -> x133,
    "x132_rfm_segments" -> x132,
    "x131_attribution" -> x131,
    "x130_convert_time" -> x130,
    "x118_pit_join" -> x118,
    "x123_ts_similarity" -> x123,
    "x125_ts_motif" -> x125,
    "x129_deadline_funnel" -> x129,
    "x99_scd2_history" -> x99,
    "x104_rolling_mad" -> x104,
    "q31_tumbling_window" -> q31,
    "q32_sliding_window" -> q32,
    "q33_asof_join" -> q33,
    "q34_session_window" -> q34,
    "x35_sessions_linear" -> x35,
    "x95_resample_locf" -> x95,
    "x97_funnel" -> x97,
    "x98_cohort_retention" -> x98)

  /** Exact-median SQL over a DuckDB list expression — the twin of
    * [[arrMedian]]: identical sorted-element arithmetic, 1-based indexing
    * and integer division on both engines. */
  private def medSql(l: String): String =
    s"""CASE WHEN len($l) % 2 = 1 THEN list_sort($l)[(len($l) + 1) // 2]
       |     ELSE (list_sort($l)[len($l) // 2] + list_sort($l)[len($l) // 2 + 1]) / 2.0 END""".stripMargin

  /** Shared x123/x125 twin prefix: the z-normalizable window CTEs. */
  private def tsimWinsCte: String =
    s"""hourly AS (
       |  SELECT event_type AS typ, date_trunc('hour', ts) AS h,
       |    floor(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
       |          * 1000000.0 + 0.5) / 1000000.0 AS v
       |  FROM events GROUP BY 1, 2),
       |wins0 AS (
       |  SELECT typ, h,
       |    list(v) OVER (PARTITION BY typ ORDER BY h
       |      ROWS BETWEEN CURRENT ROW AND ${tsimW - 1} FOLLOWING) AS vs,
       |    list(h) OVER (PARTITION BY typ ORDER BY h
       |      ROWS BETWEEN CURRENT ROW AND ${tsimW - 1} FOLLOWING) AS hs
       |  FROM hourly),
       |wins1 AS (
       |  SELECT typ, h, vs FROM wins0
       |  WHERE len(vs) = $tsimW AND hs[$tsimW] = hs[1] + INTERVAL ${tsimW - 1} HOUR),
       |wm AS (SELECT typ, h, vs, list_aggregate(vs, 'sum') / $tsimW AS mu FROM wins1),
       |wok AS (
       |  SELECT * FROM (
       |    SELECT typ, h, vs, mu,
       |      sqrt(list_aggregate(list_transform(vs, x -> (x - mu) * (x - mu)), 'sum')
       |           / $tsimW) AS sd
       |    FROM wm) WHERE sd > 0)""".stripMargin

  /** Shared dense-series CTE prefix for the x167/x168 twins — the same
    * calendar construction as the x157 twin. */
  private val seriesCte =
    """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
      |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      |ty AS (SELECT DISTINCT event_type FROM ev),
      |cal AS (
      |  SELECT ty.event_type,
      |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM ty CROSS JOIN span),
      |cnts AS (SELECT event_type, day, COUNT(*) AS n FROM ev GROUP BY 1, 2),
      |series AS (
      |  SELECT c.event_type, c.day, COALESCE(n, 0) AS y
      |  FROM cal c LEFT JOIN cnts ON cnts.event_type = c.event_type
      |    AND cnts.day = c.day)""".stripMargin

  /** hi·1e9+lo render of a non-negative HUGEINT expression — x142 twin
    * discipline. */
  private def hiloSql(e: String): String =
    s"(CAST(($e) // 1000000000 AS DOUBLE) * 1e9 + CAST(($e) % 1000000000 AS DOUBLE))"

  private val acfRSql =
    s"(CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END) * ${hiloSql("abs(num)")} / ${hiloSql("den")}"
  private val mkZSql =
    """CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |     WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |     ELSE 0.0 END""".stripMargin

  val oracles: Map[String, String] = Map(
    "x173_theil_sen" ->
      s"""$seriesCte,
        |si AS (
        |  SELECT event_type, y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
        |  FROM series),
        |pairs AS (
        |  SELECT a.event_type,
        |    CAST((CAST(b.y - a.y + $tsShift * (b.i - a.i) AS HUGEINT) * 1000000000)
        |      // (b.i - a.i) - CAST($tsShift AS HUGEINT) * 1000000000 AS BIGINT) AS fp
        |  FROM si a JOIN si b ON b.event_type = a.event_type AND b.i > a.i),
        |ranked AS (
        |  SELECT event_type, fp,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY fp) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS m
        |  FROM pairs),
        |sel AS (
        |  SELECT event_type, CAST(MAX(m) AS BIGINT) AS n_pairs,
        |    COUNT(*) AS n_mid, CAST(SUM(fp) AS BIGINT) AS sfp
        |  FROM ranked
        |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |  GROUP BY 1),
        |nd AS (SELECT event_type, COUNT(*) AS n_days FROM series GROUP BY 1)
        |SELECT s.event_type, n_days, n_pairs,
        |  floor(CAST(sfp AS DOUBLE) / (CAST(n_mid AS DOUBLE) * 1e9) * 1000000.0 + 0.5)
        |    / 1000000.0 AS ts_slope
        |FROM sel s JOIN nd USING (event_type) ORDER BY 1""".stripMargin,
    "x167_acf" ->
      s"""$seriesCte,
        |mom AS (
        |  SELECT event_type, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM series GROUP BY 1),
        |lags AS (SELECT unnest(range(1, ${acfMaxLag + 1})) AS lag),
        |lagged AS (
        |  SELECT a.event_type, l.lag,
        |    SUM(CAST(a.y AS HUGEINT) * b.y) AS ayy,
        |    CAST(SUM(a.y + b.y) AS BIGINT) AS byy
        |  FROM series a CROSS JOIN lags l
        |  JOIN series b ON b.event_type = a.event_type
        |    AND b.day = a.day + CAST(l.lag AS INTEGER)
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT g.event_type, g.lag, m.n,
        |    CAST(m.n AS HUGEINT) * m.n * g.ayy
        |      - CAST(m.n AS HUGEINT) * m.sy * g.byy
        |      + CAST(m.n - g.lag AS HUGEINT) * m.sy * m.sy AS num,
        |    CAST(m.n AS HUGEINT) * m.n * m.syy
        |      - CAST(m.n AS HUGEINT) * m.sy * m.sy AS den
        |  FROM lagged g JOIN mom m USING (event_type))
        |SELECT event_type, lag, n AS n_days,
        |  floor(($acfRSql) * 1000000.0 + 0.5) / 1000000.0 AS acf,
        |  floor(1.96 / sqrt(CAST(n - lag AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS wn_band,
        |  (abs($acfRSql) > 1.96 / sqrt(CAST(n - lag AS DOUBLE))) AS significant
        |FROM j ORDER BY 1, 2""".stripMargin,
    "x168_mann_kendall" ->
      s"""$seriesCte,
        |pairs AS (
        |  SELECT a.event_type,
        |    CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM series a JOIN series b ON b.event_type = a.event_type
        |    AND a.day < b.day
        |  GROUP BY 1),
        |ties AS (
        |  SELECT event_type, COUNT(*) AS n_distinct,
        |    CAST(SUM(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tie18,
        |    CAST(SUM(tg) AS BIGINT) AS n
        |  FROM (SELECT event_type, y, COUNT(*) AS tg FROM series GROUP BY 1, 2)
        |  GROUP BY 1),
        |j AS (
        |  SELECT p.event_type, t.n, t.n_distinct, p.s_stat,
        |    t.n * (t.n - 1) * (2 * t.n + 5) - t.tie18 AS var18
        |  FROM pairs p JOIN ties t USING (event_type))
        |SELECT event_type, n AS n_days, n_distinct, s_stat, var18,
        |  floor(($mkZSql) * 1000000.0 + 0.5) / 1000000.0 AS z_score,
        |  CASE WHEN ($mkZSql) > 1.96 THEN 'increasing'
        |       WHEN ($mkZSql) < -1.96 THEN 'decreasing'
        |       ELSE 'none' END AS trend
        |FROM j ORDER BY 1""".stripMargin,
    "x157_ses_forecast" ->
      s"""WITH RECURSIVE ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |ty AS (SELECT DISTINCT event_type FROM ev),
        |cal AS (
        |  SELECT ty.event_type,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM ty CROSS JOIN span),
        |cnts AS (SELECT event_type, day, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |series AS (
        |  SELECT c.event_type, c.day, COALESCE(n, 0) AS y
        |  FROM cal c LEFT JOIN cnts ON cnts.event_type = c.event_type AND cnts.day = c.day),
        |srn AS (
        |  SELECT event_type, y,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM series),
        |ses AS (
        |  SELECT event_type, rn, CAST(y AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS sae,
        |    CAST(0 AS BIGINT) AS snae, CAST(y AS BIGINT) AS prev
        |  FROM srn WHERE rn = 1
        |  UNION ALL
        |  SELECT s.event_type, s.rn,
        |    ses.l + $sesAlpha * (CAST(s.y AS DOUBLE) - ses.l),
        |    ses.sae + abs(CAST(s.y AS DOUBLE) - ses.l),
        |    ses.snae + abs(s.y - ses.prev), s.y
        |  FROM srn s JOIN ses ON s.event_type = ses.event_type AND s.rn = ses.rn + 1),
        |fin AS (SELECT event_type, max(rn) AS n_days FROM srn GROUP BY 1),
        |lastr AS (
        |  SELECT ses.event_type, fin.n_days, ses.l, ses.sae, ses.snae
        |  FROM ses JOIN fin ON ses.event_type = fin.event_type AND ses.rn = fin.n_days)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  floor(l * 1000000.0 + 0.5) / 1000000.0 AS ses_forecast,
        |  floor(sae / (n_days - 1) * 1000000.0 + 0.5) / 1000000.0 AS ses_mae,
        |  floor(CAST(snae AS DOUBLE) / (n_days - 1) * 1000000.0 + 0.5) / 1000000.0 AS naive_mae,
        |  CASE WHEN snae = 0 THEN NULL ELSE
        |    floor((1.0 - (sae / (n_days - 1)) / (CAST(snae AS DOUBLE) / (n_days - 1)))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS skill
        |FROM lastr ORDER BY event_type""".stripMargin,
    "x156_kaplan_meier" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
        |mx AS (SELECT max(day) AS mx FROM ev),
        |tv AS (SELECT user_id, min(day) AS v0 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |tp AS (SELECT e.user_id, min(e.day) AS p0 FROM ev e
        |       JOIN tv ON tv.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.day >= tv.v0 GROUP BY 1),
        |obs AS (
        |  SELECT CAST(CASE WHEN p0 IS NOT NULL THEN datediff('day', v0, p0)
        |    ELSE datediff('day', v0, mx) END AS BIGINT) AS t,
        |    CASE WHEN p0 IS NOT NULL THEN 1 ELSE 0 END AS e
        |  FROM tv LEFT JOIN tp USING (user_id), mx),
        |grid AS (
        |  SELECT t, CAST(SUM(e) AS BIGINT) AS d, CAST(SUM(1 - e) AS BIGINT) AS c
        |  FROM obs GROUP BY 1),
        |gn AS (
        |  SELECT t, d, c, CAST(SUM(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS n
        |  FROM grid),
        |evt AS (
        |  SELECT t, d, c, n, ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM gn WHERE d > 0),
        |km AS (
        |  SELECT rn, t, d, c, n,
        |    1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) AS s
        |  FROM evt WHERE rn = 1
        |  UNION ALL
        |  SELECT e.rn, e.t, e.d, e.c, e.n,
        |    km.s * (1.0 - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE))
        |  FROM evt e JOIN km ON e.rn = km.rn + 1)
        |SELECT t AS t_days, n AS n_risk, d AS n_conv, c AS n_cens,
        |  floor(s * 1000000.0 + 0.5) / 1000000.0 AS survival
        |FROM km ORDER BY t_days""".stripMargin,
    "x153_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS c,
        |    CAST(epoch_us(ts) AS HUGEINT) * 10000000000 + event_id AS k
        |  FROM events)
        |SELECT event_type, day, COUNT(*) AS n_events,
        |  CAST(arg_min(c, k) AS DOUBLE) / 100.0 AS open,
        |  CAST(max(c) AS DOUBLE) / 100.0 AS high,
        |  CAST(min(c) AS DOUBLE) / 100.0 AS low,
        |  CAST(arg_max(c, k) AS DOUBLE) / 100.0 AS close,
        |  max(c) - min(c) AS range_cents
        |FROM e GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,
    "x152_twap" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c, epoch_us(ts) AS tu
        |  FROM events),
        |w AS (
        |  SELECT *, COALESCE(LEAD(tu) OVER (PARTITION BY event_type, day
        |      ORDER BY ts, event_id),
        |    epoch_us(CAST(day AS TIMESTAMP)) + 86400000000) - tu AS dt
        |  FROM e),
        |a AS (
        |  SELECT event_type, day, COUNT(*) AS n_events,
        |    SUM(c * dt) AS scd, CAST(SUM(dt) AS BIGINT) AS sd,
        |    CAST(SUM(c) AS BIGINT) AS sc
        |  FROM w GROUP BY 1, 2)
        |SELECT event_type, day, n_events,
        |  floor((CAST(scd // 1000000000 AS DOUBLE) * 1e9 + CAST(scd % 1000000000 AS DOUBLE))
        |    / CAST(sd AS DOUBLE) / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS twap,
        |  floor(CAST(sc AS DOUBLE) / CAST(n_events AS DOUBLE) / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_v
        |FROM a ORDER BY event_type, day""".stripMargin,
    "x134_journey_paths" ->
      """WITH tr AS (
        |  SELECT event_type || ' > '
        |    || lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    || ' > '
        |    || lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS path,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n2
        |  FROM events)
        |SELECT path, COUNT(*) AS n FROM tr WHERE n2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "x133_markov_transitions" ->
      """WITH tr AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM tr
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  floor(n / SUM(n) OVER (PARTITION BY from_type) * 1000000.0 + 0.5) / 1000000.0 AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "x125_ts_motif" ->
      s"""WITH $tsimWinsCte,
         |winz AS (
         |  SELECT typ, h, list_transform(vs, x -> (x - mu) / sd) AS zs FROM wok),
         |pairs AS (
         |  SELECT a.typ, a.h AS ah, b.h AS bh,
         |    sqrt(greatest(0.0, ${2.0 * tsimW} - 2.0 *
         |      list_aggregate(list_transform(list_zip(a.zs, b.zs),
         |        s -> s[1] * s[2]), 'sum'))) AS dist_raw
         |  FROM winz a JOIN winz b
         |    ON a.typ = b.typ AND a.h + INTERVAL ${tsimW - 1} HOUR < b.h),
         |ranked AS (
         |  SELECT typ, ah, bh, dist_raw,
         |    ROW_NUMBER() OVER (PARTITION BY typ ORDER BY dist_raw, ah, bh) AS rn
         |  FROM pairs)
         |SELECT typ, CAST(ah AS VARCHAR) AS motif_a, CAST(bh AS VARCHAR) AS motif_b,
         |  floor(dist_raw * 1000000.0 + 0.5) / 1000000.0 AS zdist
         |FROM ranked WHERE rn = 1 ORDER BY typ""".stripMargin,
    "x123_ts_similarity" ->
      s"""WITH $tsimWinsCte,
         |q AS (SELECT typ AS qtyp, h AS qh, vs AS qvs, mu AS qmu, sd AS qsd
         |      FROM wok WHERE typ = 'purchase' ORDER BY h LIMIT 1),
         |d AS (
         |  SELECT w.typ, w.h,
         |    sqrt(list_aggregate(list_transform(list_zip(w.vs, q.qvs),
         |      s -> ((s[1] - w.mu) / w.sd - (s[2] - q.qmu) / q.qsd)
         |         * ((s[1] - w.mu) / w.sd - (s[2] - q.qmu) / q.qsd)), 'sum')) AS dist_raw
         |  FROM wok w, q
         |  WHERE NOT (w.typ = q.qtyp AND w.h = q.qh))
         |SELECT typ, CAST(h AS VARCHAR) AS win_start,
         |  floor(dist_raw * 1000000.0 + 0.5) / 1000000.0 AS zdist
         |FROM d ORDER BY dist_raw, typ, h LIMIT $tsimK""".stripMargin,
    "x118_pit_join" ->
      """WITH dim AS (
        |  SELECT user_id, event_type, ts, event_id FROM events WHERE event_id % 2 = 0),
        |marks AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM dim),
        |chg AS (SELECT user_id, event_type, ts, event_id FROM marks
        |        WHERE prev IS NULL OR prev <> event_type),
        |scd AS (
        |  SELECT user_id, event_type AS state, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
        |  FROM chg),
        |probes AS (SELECT user_id, event_type, ts FROM events WHERE event_id % 2 = 1)
        |SELECT COALESCE(s.state, 'unseen') AS prior_state, p.event_type,
        |  COUNT(*) AS n, COUNT(DISTINCT p.user_id) AS n_users
        |FROM probes p LEFT JOIN scd s
        |  ON s.user_id = p.user_id AND s.vf <= p.ts AND (s.vt IS NULL OR p.ts < s.vt)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x99_scd2_history" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, event_type, ts, event_id FROM r
        |      WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  event_type AS state,
        |  CAST(ts AS VARCHAR) AS valid_from,
        |  CAST(lead(ts) OVER w AS VARCHAR) AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "x104_rolling_mad" -> {
      val k = 3 * 1.4826
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS v
         |  FROM events GROUP BY 1, 2),
         |f AS (
         |  SELECT event_type, h, v,
         |    list(v) OVER (PARTITION BY event_type ORDER BY h
         |                  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS prior
         |  FROM hourly),
         |m AS (
         |  -- COALESCE: list() over an empty frame is NULL in DuckDB where
         |  -- collect_list is [] in Spark
         |  SELECT event_type, h, v, prior, COALESCE(len(prior), 0) AS n_prior,
         |    CASE WHEN len(prior) >= $madMinPrior THEN ${medSql("prior")} END AS med
         |  FROM f),
         |mm AS (
         |  SELECT *, CASE WHEN n_prior >= $madMinPrior
         |    THEN ${medSql("list_transform(prior, p -> abs(p - med))")} END AS mad
         |  FROM m)
         |SELECT event_type, CAST(h AS VARCHAR) AS h,
         |  floor(v * 1000000.0 + 0.5) / 1000000.0 AS v,
         |  CAST(n_prior AS BIGINT) AS n_prior,
         |  floor(med * 1000000.0 + 0.5) / 1000000.0 AS med,
         |  floor(mad * 1000000.0 + 0.5) / 1000000.0 AS mad,
         |  COALESCE(abs(v - med) > $k * mad, false) AS is_anom
         |FROM mm ORDER BY event_type, h""".stripMargin
    },
    "x132_rfm_segments" ->
      """WITH per AS (
        |  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS freq,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mcents
        |  FROM events GROUP BY 1),
        |sc AS (
        |  SELECT user_id,
        |    ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS r_b,
        |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_b,
        |    ntile(5) OVER (ORDER BY mcents DESC, user_id) AS m_b
        |  FROM per)
        |SELECT CAST(r_b AS BIGINT) AS r_b, CAST(f_b AS BIGINT) AS f_b,
        |  CAST(m_b AS BIGINT) AS m_b, COUNT(*) AS n_users
        |FROM sc GROUP BY 1, 2, 3 ORDER BY r_b, f_b, m_b""".stripMargin,
    "x131_attribution" -> {
      def arm(model: String, ord: String) =
        s"""SELECT '$model' AS model, COALESCE(ttype, 'direct') AS touch, COUNT(*) AS n
           |FROM (
           |  SELECT pid, ttype,
           |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY $ord) AS rn
           |  FROM j) WHERE rn = 1 GROUP BY 2""".stripMargin
      s"""WITH p AS (SELECT user_id, ts AS pts, event_id AS pid FROM events
         |           WHERE event_type = 'purchase'),
         |t0 AS (SELECT user_id, ts AS tts, event_type AS ttype, event_id AS tid
         |       FROM events WHERE event_type IN ('view', 'click')),
         |j AS (
         |  SELECT p.pid, t0.ttype, t0.tts, t0.tid
         |  FROM p LEFT JOIN t0 ON t0.user_id = p.user_id
         |    AND t0.tts <= p.pts AND t0.tts > p.pts - INTERVAL 24 HOUR)
         |SELECT * FROM (
         |  ${arm("last", "tts DESC NULLS LAST, tid DESC NULLS LAST")}
         |  UNION ALL
         |  ${arm("first", "tts ASC NULLS LAST, tid ASC NULLS LAST")})
         |ORDER BY model, touch""".stripMargin
    },
    "x130_convert_time" -> {
      val s1 = s"""s1 AS (SELECT user_id, MIN(rn) AS r, MIN_BY(ts, rn) AS t
                  |  FROM r WHERE event_type = '${funnelSteps.head}' GROUP BY user_id)""".stripMargin
      val chain = funnelSteps.zipWithIndex.drop(1).map { case (step, i) =>
        s"""s${i + 1} AS (
           |  SELECT r.user_id, MIN(r.rn) AS r, MIN_BY(r.ts, r.rn) AS t
           |  FROM r JOIN s$i ON s$i.user_id = r.user_id AND r.rn > s$i.r
           |    AND r.ts <= s$i.t + INTERVAL 24 HOUR
           |  WHERE r.event_type = '$step' GROUP BY r.user_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (
         |  SELECT user_id, event_type, ts,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |$s1,
         |$chain,
         |delays AS (
         |  SELECT s1.user_id,
         |    epoch_us(s${funnelSteps.length}.t) - epoch_us(s1.t) AS dus
         |  FROM s1 JOIN s${funnelSteps.length} USING (user_id)),
         |ranked AS (
         |  SELECT dus, ROW_NUMBER() OVER (ORDER BY dus, user_id) AS rn,
         |    COUNT(*) OVER () AS n
         |  FROM delays)
         |SELECT CAST(q AS DOUBLE) AS q,
         |  floor(dus / 3600000000.0 * 10000.0 + 0.5) / 10000.0 AS delay_hours,
         |  CAST(n AS BIGINT) AS n
         |FROM ranked, (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q)
         |WHERE rn - 1 = floor((n - 1) * q)
         |ORDER BY q""".stripMargin
    },
    "x129_deadline_funnel" -> {
      val steps = funnelSteps
      val ctes = steps.zipWithIndex.map { case (step, i) =>
        if (i == 0)
          s"""s1 AS (SELECT user_id, MIN(rn) AS r, MIN_BY(ts, rn) AS t
             |  FROM r WHERE event_type = '$step' GROUP BY user_id)""".stripMargin
        else
          s"""s${i + 1} AS (
             |  SELECT r.user_id, MIN(r.rn) AS r, MIN_BY(r.ts, r.rn) AS t
             |  FROM r JOIN s$i ON s$i.user_id = r.user_id AND r.rn > s$i.r
             |    AND r.ts <= s$i.t + INTERVAL 24 HOUR
             |  WHERE r.event_type = '$step' GROUP BY r.user_id)""".stripMargin
      }.mkString(",\n")
      val counts = steps.zipWithIndex.map { case (step, i) =>
        s"SELECT CAST(${i + 1} AS BIGINT) AS step, '$step' AS event_type, COUNT(*) AS users FROM s${i + 1}"
      }.mkString(" UNION ALL ")
      s"""WITH r AS (
         |  SELECT user_id, event_type, ts,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |$ctes
         |SELECT * FROM ($counts) ORDER BY step""".stripMargin
    },
    "x97_funnel" -> {
      val steps = funnelSteps
      val ctes = steps.zipWithIndex.map { case (step, i) =>
        if (i == 0)
          s"s1 AS (SELECT user_id, MIN(rn) AS r FROM r WHERE event_type = '$step' GROUP BY user_id)"
        else
          s"""s${i + 1} AS (
             |  SELECT r.user_id, MIN(r.rn) AS r
             |  FROM r JOIN s$i ON s$i.user_id = r.user_id AND r.rn > s$i.r
             |  WHERE r.event_type = '$step' GROUP BY r.user_id)""".stripMargin
      }.mkString(",\n")
      val counts = steps.zipWithIndex.map { case (step, i) =>
        s"SELECT CAST(${i + 1} AS BIGINT) AS step, '$step' AS event_type, COUNT(*) AS users FROM s${i + 1}"
      }.mkString(" UNION ALL ")
      s"""WITH r AS (
         |  SELECT user_id, event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |$ctes
         |SELECT * FROM ($counts) ORDER BY step""".stripMargin
    },
    "x98_cohort_retention" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort FROM ev GROUP BY user_id)
        |SELECT CAST(CAST(cohort AS DATE) AS VARCHAR) AS cohort,
        |  CAST(date_diff('day', CAST(cohort AS DATE), CAST(wk AS DATE)) / 7 AS BIGINT) AS wk_offset,
        |  COUNT(DISTINCT ev.user_id) AS users, COUNT(*) AS n_events
        |FROM ev JOIN f ON f.user_id = ev.user_id
        |GROUP BY 1, 2 ORDER BY cohort, wk_offset""".stripMargin,
    "x95_resample_locf" ->
      """WITH obs AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n_obs,
        |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1 FROM events),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |grid AS (
        |  SELECT ty.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
        |  FROM ty CROSS JOIN b),
        |j AS (
        |  SELECT g.event_type, g.h, o.n_obs, o.v
        |  FROM grid g LEFT JOIN obs o ON o.event_type = g.event_type AND o.h = g.h)
        |SELECT event_type, CAST(h AS VARCHAR) AS h, COALESCE(n_obs, 0) AS n_obs,
        |  floor(last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5) / 1000000.0 AS filled,
        |  n_obs IS NULL AS is_gap
        |FROM j ORDER BY event_type, h""".stripMargin,
    "q31_tumbling_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS h, event_type, COUNT(*) AS n,
        |ROUND(CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE),2) AS sv
        |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin,
    "q32_sliding_window" ->
      """WITH w AS (
        |  SELECT make_timestamp((CAST(floor(epoch(ts)/900) AS BIGINT)*900 - i*900) * 1000000) AS ws,
        |         event_type
        |  FROM events, (SELECT UNNEST([0,1,2,3]) AS i))
        |SELECT CAST(ws AS VARCHAR) AS window_start, event_type, COUNT(*) AS n
        |FROM w GROUP BY ws, event_type ORDER BY window_start, event_type""".stripMargin,
    // correlated LIMIT-1 form, not ASOF JOIN: among equal-ts error events
    // ASOF's pick is unspecified, while this form's (ts DESC, event_id DESC)
    // order matches our window's deterministic tie-break exactly. DuckDB
    // decorrelates it to the same sort-merge shape (verified equal + fast).
    "q33_asof_join" ->
      """SELECT p.event_id, (
        |  SELECT e.event_id FROM events e
        |  WHERE e.event_type = 'error' AND e.user_id = p.user_id AND e.ts <= p.ts
        |  ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS prev_error_id
        |FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""".stripMargin,
    "q34_session_window" -> sessionOracle,
    // x35 is value-identical to q34 by contract — same twin
    "x35_sessions_linear" -> sessionOracle)

  private lazy val sessionOracle: String =
      """WITH marks AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marks)
        |SELECT user_id, CAST(MIN(ts) AS VARCHAR) AS s_start,
        |  CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS s_end, COUNT(*) AS n
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin
}
