package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{t, fround}

/** Continuous-maintenance operators (SURVEY §2.2 E106, E113): incremental
  * materialized-view maintenance and snapshot-to-snapshot distribution
  * drift detection — the two jobs a lakehouse runs on EVERY ingest batch
  * so that dashboards and data-quality monitors never re-scan the base
  * table.
  *
  * Reference note: the reference recomputes its published aggregate from
  * the full table on each run (`/root/reference/duckdb/query_and_publish
  * .py:107-122`); these operators are the north-star "keep it fresh
  * without the re-scan" extensions of that surface per SURVEY §2.2.
  */
object IvmQueries {
  import CoreQueries.Q

  /** TPC-H's five order priorities — the view's group domain, shared with
    * the generated twin so insert rows land in identical groups. */
  private[graft] val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Exact cents: floor(price·100 + 0.5) as long — the same half-up
    * fix-point both engines compute bit-identically (dollar amounts have
    * ≤2 decimals, so the double product sits next to an integer). */
  private def cents(c: Column): Column =
    floor(c * 100 + lit(0.5)).cast("long")

  /** x109 — incremental aggregate view maintenance (E106): maintain the
    * materialized view `orders GROUP BY o_orderpriority → (count, sum)`
    * under a change batch WITHOUT rescanning the base — the
    * delta-propagation rule of incremental view maintenance (Gupta &
    * Mumick's counting algorithm): every change row becomes signed deltas
    * (±1, ±amount) against its group, an UPDATE that moves a row across
    * groups becomes a (−old-group, +new-group) delta pair, the deltas
    * aggregate to one row per touched group, and the view absorbs them
    * with a single outer join — groups whose count reaches zero vanish.
    * Count and sum are the self-maintainable aggregates (min/max are NOT
    * delta-maintainable under deletes — they need the x101 re-scan path);
    * sums ride as exact fix-point cents so maintenance is integer
    * arithmetic, order-independent and drift-free over any number of
    * batches.
    *
    * The change batch is derived deterministically from the snapshot
    * (key mod classes + beyond-max inserts, the x106 convention) so both
    * engines build the identical batch: deletes (k%13=1), priority-
    * migrating price-bump updates (k%13=2 → '1-URGENT', +$10), 20
    * synthetic inserts cycling the priority domain.
    *
    * 100 TB shape: maintenance cost is O(|batch|) + a join bounded by the
    * VIEW size (groups), never the base table — both join sides are
    * |groups| rows (a full outer join has no broadcast side, so it takes
    * no broadcast hint); the base is only touched when the view
    * is first built (or a non-self-maintainable aggregate forces the
    * re-scan). IvmSpec proves the defining contract: maintained view ≡
    * full recompute over the mutated base, bit-exact. */
  val x109: Q = (s, d) => {
    val Seq(baseDeltas, chg, ins) = ivmDeltaBatches(s, d)
    val view0 = baseDeltas.groupBy(col("g"))
      .agg(sum(col("dn")).as("n0"), sum(col("ds")).as("s0"))
    val deltas = chg.unionAll(ins)
      .groupBy(col("g")).agg(sum(col("dn")).as("dn"), sum(col("ds")).as("ds"))
    view0.join(deltas, Seq("g"), "full_outer")
      .select(col("g").as("o_orderpriority"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        (coalesce(col("s0"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("sc"))
      .filter(col("n_orders") > 0)
      .select(col("o_orderpriority"), col("n_orders"),
        fround(col("sc") / 100.0, 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** The x109 change set as THREE signed-delta micro-batches — the E117
    * streaming-IVM arrival order the x179 replay twin folds: batch 0 seeds
    * the view with the base table's (+1, +cents) deltas (after which the
    * base is never re-scanned, the x109 contract), batch 1 carries the
    * delete/update deltas, batch 2 the synthetic inserts. x109 consumes
    * the same frames in its one-shot form, so replay and batch IVM share
    * the derivation bit-for-bit. */
  private[graft] def ivmDeltaBatches(s: SparkSession, d: String)
      : Seq[org.apache.spark.sql.DataFrame] = {
    val base = t(s, d, "orders").select(
      col("o_orderkey").as("k"), col("o_orderpriority").as("g"),
      cents(col("o_totalprice")).as("c"))
    val baseDeltas = base.select(col("g"), lit(1L).as("dn"), col("c").as("ds"))
    val del = base.filter(col("k") % 13 === 1)
      .select(col("g"), lit(-1L).as("dn"), (-col("c")).as("ds"))
    val updOld = base.filter(col("k") % 13 === 2)
      .select(col("g"), lit(-1L).as("dn"), (-col("c")).as("ds"))
    val updNew = base.filter(col("k") % 13 === 2)
      .select(lit(priorities.head).as("g"), lit(1L).as("dn"),
        (col("c") + 1000L).as("ds"))
    val prArr = array(priorities.map(lit): _*)
    val ins = s.range(1, 21).toDF("i")
      .select(element_at(prArr, (col("i") % 5 + 1).cast("int")).as("g"),
        lit(1L).as("dn"), (col("i") * 12345L).as("ds"))
    Seq(baseDeltas, del.unionAll(updOld).unionAll(updNew), ins)
  }

  /** The drifted-snapshot pair for x116, shared with the twin: snapshot A
    * is the full table ("yesterday"), snapshot B drops high-quantity rows
    * ("today", after an upstream filter change) — l_quantity shifts hard,
    * l_extendedprice (quantity-correlated) shifts mildly, l_discount and
    * l_tax are quantity-independent and should NOT flag. */
  private[graft] val driftPred = "l_quantity <= 25"

  /** x116 — histogram drift detection (E113): total-variation distance
    * between per-column equi-width histograms of two table snapshots —
    * the distribution-shift monitor that catches an upstream filter or
    * unit change before it poisons training data. Both snapshots bin on
    * SHARED global bounds (min/max over A∪B) so bins align positionally;
    * TVD = ½·Σ|p_i − q_i| over the B=8 bin masses is rational in the bin
    * counts (exact longs), one IEEE division per term, frounded; columns
    * flag at TVD > 0.1. TVD, not KL/PSI: those need ln (a libm call out
    * of the cross-engine determinism budget — the x107 argument) and are
    * undefined on empty bins, while TVD is bounded [0,1] and total.
    *
    * 100 TB shape: TWO corpus passes total — one 1-row bounds agg
    * (map-side combined, broadcast back) and ONE melted (col,bin) hash
    * agg carrying BOTH snapshots' counts (the B-side count rides as a
    * conditional sum, since B is a predicate over the same scan; two
    * disjoint snapshots would contribute one pass each). Melting happens
    * MAP-SIDE before the aggregation, so the exchange stays bounded at
    * cols×B partial rows — the x101 "don't melt before the shuffle"
    * rule is about shuffled DATA rows, which never materialize here.
    * In production the A-side histogram is yesterday's PERSISTED audit
    * row (x102's output), so drift costs one pass over the new snapshot
    * only. */
  val x116: Q = (s, d) => {
    val nBins = 8
    val cols = StatsQueries.statCols
    val li = t(s, d, "lineitem")
    // pass 1: one WIDE 1-row bounds agg (map-side combined, 2·cols cells)
    val bAggs = cols.flatMap(c => Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val bounds = li.agg(bAggs.head, bAggs.tail: _*)
    // pass 2: one WIDE conditional-sum agg — cols×bins×2 codegen'd
    // counters over a single scan (no row melt ever reaches an exchange;
    // the 1-row result melts AFTER aggregation, the x101 rule)
    def binc(c: String) = least(
      floor((col(c) - col(s"mn_$c")) * nBins / (col(s"mx_$c") - col(s"mn_$c"))),
      lit(nBins - 1L))
    // r19 (guide step 4 — per-task expression work): the bin index of each
    // column is computed ONCE per row in a pre-agg projection instead of
    // inside every one of the cols×bins×2 conditional counters (the old
    // tree re-ran the sub/mul/div/floor 16× per column per row). The
    // isNotNull guard folds into the projection: a null cell yields a null
    // bin, and `null === b` is false-under-when — identical counts.
    val binned = li.withColumn("is_b", expr(driftPred))
      .crossJoin(broadcast(bounds)) // 1-row global-agg build side
      .select(col("is_b") +: cols.map(c =>
        when(col(c).isNotNull, binc(c)).as(s"bin_$c")): _*)
    val hAggs = for { c <- cols; b <- 0 until nBins; side <- Seq("a", "b") } yield {
      val inBin = col(s"bin_$c") === b
      val cond = if (side == "a") inBin else inBin && col("is_b")
      sum(when(cond, 1L).otherwise(0L)).as(s"${side}_${c}_$b")
    }
    val one = binned.agg(hAggs.head, hAggs.tail: _*)
    val hStack = "stack(" + (cols.length * nBins) + ", " +
      (for { c <- cols; b <- 0 until nBins }
        yield s"'$c', ${b}L, a_${c}_$b, b_${c}_$b").mkString(", ") +
      ") as (col_name, bin, na, nb)"
    val joined = one.selectExpr(hStack)
    val tot = joined.groupBy(col("col_name"))
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    joined.join(broadcast(tot), "col_name")
      .groupBy(col("col_name"))
      .agg((sum(abs(col("na") / col("ta") - col("nb") / col("tb"))) / 2).as("tvd"))
      .select(col("col_name"), fround(col("tvd"), 6).as("tvd"),
        (col("tvd") > 0.1).as("drifted"))
      .orderBy(col("col_name"))
  }

  /** Snapshot cutoffs for x162 — one year of fact growth between the
    * reconciled table states (l_shipdate is the ingest-visibility axis). */
  private val reconT1 = "1997-01-01"
  private val reconT2 = "1998-01-01"

  /** x162 — snapshot state reconciliation / CDC readout (E167): given the
    * fact table AT two snapshots (rows visible ≤T1 vs ≤T2), classify
    * every order key as inserted / updated / unchanged and total the
    * row and value deltas per class — the downstream-sync verb next to
    * x109 (x109 MAINTAINS a view from a known delta; x162 DERIVES the
    * delta between two table states when no changelog exists, which is
    * what an incremental consumer of a snapshot-only lakehouse table
    * must do). Append-only facts ⇒ no deleted class by construction
    * (the catalog's equality-delete path is the MOR seam, A5/E140).
    *
    * Determinism: everything is exact integers (counts + cents) until
    * the one dollars render (DECIMAL(38,0) sum — 100 TB cents exceed
    * longs — hi·1e9+lo, fround 2); class labels decide on integer
    * comparisons.
    *
    * 100 TB shape: ONE scan classifies each row's snapshot membership
    * (the T2 predicate prunes partitions), ONE map-side-combined
    * aggregate per order key (both states accumulate in the same
    * partial — not two scans joined), then the key frame collapses to
    * the 3-row class grid. One keyed exchange total. */
  val x162: Q = (s, d) => {
    val (t1, t2) = (lit(reconT1).cast("timestamp"), lit(reconT2).cast("timestamp"))
    val li = t(s, d, "lineitem").filter(col("l_shipdate") < t2)
      .select(col("l_orderkey"),
        when(col("l_shipdate") < t1, 1L).otherwise(0L).as("in1"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
    val st = li.groupBy(col("l_orderkey")).agg(
      sum(col("in1")).as("n1"), count(lit(1)).as("n2"),
      sum(col("c") * col("in1")).as("c1"), sum(col("c")).as("c2"))
    val cls = st.select(
      when(col("n1") === 0, "inserted")
        .when(col("n2") > col("n1"), "updated")
        .otherwise("unchanged").as("change_class"),
      (col("n2") - col("n1")).as("drows"),
      (col("c2") - col("c1")).cast("decimal(38,0)").as("dc"))
    cls.groupBy(col("change_class"))
      .agg(count(lit(1)).as("n_keys"), sum(col("drows")).as("d_rows"),
        sum(col("dc")).as("dcs"))
      .select(col("change_class"), col("n_keys"), col("d_rows"),
        fround((expr("dcs div 1000000000").cast("double") * lit(1e9) +
          expr("dcs % 1000000000").cast("double")) / lit(100.0), 2).as("d_dollars"))
      .orderBy(col("change_class"))
  }

  val queries: Map[String, Q] = Map(
    "x109_ivm_maintain" -> x109,
    "x162_snapshot_diff" -> x162,
    "x116_hist_drift" -> x116)

  val oracles: Map[String, String] = Map(
    "x162_snapshot_diff" ->
      s"""WITH li AS (
         |  SELECT l_orderkey,
         |    CASE WHEN l_shipdate < TIMESTAMP '$reconT1' THEN 1 ELSE 0 END AS in1,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
         |  FROM lineitem WHERE l_shipdate < TIMESTAMP '$reconT2'),
         |st AS (
         |  SELECT l_orderkey, CAST(SUM(in1) AS BIGINT) AS n1, COUNT(*) AS n2,
         |    CAST(SUM(c * in1) AS BIGINT) AS c1, CAST(SUM(c) AS BIGINT) AS c2
         |  FROM li GROUP BY 1),
         |cls AS (
         |  SELECT CASE WHEN n1 = 0 THEN 'inserted'
         |              WHEN n2 > n1 THEN 'updated'
         |              ELSE 'unchanged' END AS change_class,
         |    n2 - n1 AS drows, CAST(c2 - c1 AS HUGEINT) AS dc
         |  FROM st)
         |SELECT change_class, COUNT(*) AS n_keys,
         |  CAST(SUM(drows) AS BIGINT) AS d_rows,
         |  floor((CAST(SUM(dc) // 1000000000 AS DOUBLE) * 1e9
         |    + CAST(SUM(dc) % 1000000000 AS DOUBLE)) / 100.0 * 100.0 + 0.5) / 100.0 AS d_dollars
         |FROM cls GROUP BY 1 ORDER BY change_class""".stripMargin,
    "x109_ivm_maintain" -> {
      val prList = priorities.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT o_orderkey AS k, o_orderpriority AS g,
         |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
         |  FROM orders),
         |v0 AS (SELECT g, COUNT(*) AS n0, CAST(SUM(c) AS BIGINT) AS s0 FROM base GROUP BY g),
         |chg AS (
         |  SELECT g, -1 AS dn, -c AS ds FROM base WHERE k % 13 = 1
         |  UNION ALL
         |  SELECT g, -1, -c FROM base WHERE k % 13 = 2
         |  UNION ALL
         |  SELECT '${priorities.head}', 1, c + 1000 FROM base WHERE k % 13 = 2
         |  UNION ALL
         |  SELECT ($prList)[CAST(i % 5 + 1 AS INT)], 1, i * 12345
         |  FROM (SELECT unnest(range(1, 21)) AS i)),
         |dl AS (SELECT g, CAST(SUM(dn) AS BIGINT) AS dn, CAST(SUM(ds) AS BIGINT) AS ds
         |       FROM chg GROUP BY g),
         |m AS (
         |  SELECT COALESCE(v0.g, dl.g) AS g,
         |         COALESCE(n0, 0) + COALESCE(dn, 0) AS n,
         |         COALESCE(s0, 0) + COALESCE(ds, 0) AS sc
         |  FROM v0 FULL OUTER JOIN dl ON v0.g = dl.g)
         |SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n_orders,
         |  floor(sc / 100.0 * 100.0 + 0.5) / 100.0 AS sum_price
         |FROM m WHERE n > 0 ORDER BY o_orderpriority""".stripMargin
    },
    "x116_hist_drift" -> {
      val blocks = StatsQueries.statCols.map { c =>
        s"""SELECT '$c' AS col_name, g.bin,
           |  COALESCE(ha.cnt, 0) AS na, COALESCE(hb.cnt, 0) AS nb
           |FROM (SELECT unnest(range(0, 8)) AS bin) g
           |LEFT JOIN (
           |  SELECT LEAST(CAST(floor(($c - b.mn) * 8 / (b.mx - b.mn)) AS BIGINT), 7) AS bin,
           |         COUNT(*) AS cnt
           |  FROM lineitem, (SELECT MIN($c) AS mn, MAX($c) AS mx FROM lineitem) b
           |  WHERE $c IS NOT NULL GROUP BY 1) ha ON ha.bin = g.bin
           |LEFT JOIN (
           |  SELECT LEAST(CAST(floor(($c - b.mn) * 8 / (b.mx - b.mn)) AS BIGINT), 7) AS bin,
           |         COUNT(*) AS cnt
           |  FROM lineitem, (SELECT MIN($c) AS mn, MAX($c) AS mx FROM lineitem) b
           |  WHERE $c IS NOT NULL AND $driftPred GROUP BY 1) hb ON hb.bin = g.bin""".stripMargin
      }
      s"""WITH j AS (${blocks.mkString(" UNION ALL ")}),
         |tot AS (SELECT col_name, CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
         |        FROM j GROUP BY col_name),
         |tv AS (
         |  SELECT j.col_name,
         |    SUM(abs(CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)) / 2 AS tvd
         |  FROM j JOIN tot ON tot.col_name = j.col_name
         |  GROUP BY j.col_name)
         |SELECT col_name, floor(tvd * 1000000.0 + 0.5) / 1000000.0 AS tvd,
         |  tvd > 0.1 AS drifted
         |FROM tv ORDER BY col_name""".stripMargin
    })
}
