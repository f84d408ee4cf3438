package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{t, dsum, tsStr}

/** SURVEY.md §2 — multi-join analytical benchmark family (q42–q46).
  *
  * TPC-H Q3/Q5/Q9/Q10/Q18-class shapes over the testdata star schema: 3–6
  * table joins with selective date/segment filters and agg-after-join —
  * the query class a warehouse analyst runs daily, and the one that
  * exercises join ORDERING, not just join operators (VERDICT r10 #1). The
  * reference's own query surface is single-table
  * (duckdb/query_and_publish.py:107-122 and verify_iceberg.sql have no
  * joins), so these shapes come from the public TPC-H spec re-expressed on
  * the testdata columns.
  *
  * Two execution surfaces, deliberately:
  *  - q42/q45/q46 — DataFrame API, the analyst writes a sensible join tree
  *    (selective dimension first) and Catalyst handles broadcast selection
  *    / AQE from size estimates.
  *  - q43/q44 — SQL over the engine's registered catalog tables with CBO
  *    (`spark.sql.cbo.*`) and ANALYZE-computed statistics: the join order
  *    as WRITTEN is deliberately naive (fact table first, most selective
  *    dimension last) and cost-based join reordering is what fixes it.
  *    BenchmarkSpec asserts the optimized join order actually changes when
  *    stats are present — the statistics round-trip x101 computes by hand,
  *    wired into the planner.
  *
  * Scale notes (100 TB posture): every query aggregates AFTER the joins but
  * the joins are all key-equi joins on the star schema — dimensions
  * (region/nation/supplier, and customer/part until ~sf1k) broadcast, so
  * the only exchange carrying fact-table rows is the final partial-agg
  * shuffle of group keys. q46's having-subquery aggregates lineitem by
  * orderkey first (map-side combinable) and semi-joins the 6%-selective
  * result back — no row-count-proportional state. With CBO on, the same
  * plans fall out of the statistics instead of the hand-written order.
  */
object BenchmarkQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Tables registered in the session catalog for the SQL/CBO surface. */
  private[graft] val benchTables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  // one registration per (session, dir); re-registering on dir change keeps
  // multi-dir test sessions correct. Keyed on the session OBJECT (identity
  // equality — the Tables.dfCache convention) with stopped-session eviction.
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]

  /** Register `dir`'s TPC-H tables as external parquet catalog tables
    * (g_region … g_lineitem) and ANALYZE them (row counts + column stats —
    * the same statistics x101 computes as a query, here landed in the
    * catalog where the CBO reads them). Idempotent per (session, dir). */
  private[graft] def registerCatalog(s: SparkSession, d: String): Unit = {
    val it = registered.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
    if (registered.get(s) != d) registered.synchronized {
      if (registered.get(s) != d) {
        benchTables.foreach { n =>
          s.sql(s"DROP TABLE IF EXISTS g_$n")
          s.sql(s"CREATE TABLE g_$n USING parquet LOCATION '$d/$n.parquet'")
          s.sql(s"ANALYZE TABLE g_$n COMPUTE STATISTICS FOR ALL COLUMNS")
        }
        registered.put(s, d)
        cachedIn.remove(s) // dropped tables lost their cache; re-pin lazily
      }
    }
  }

  // CACHE TABLE the catalog tables once per session when the engine is in
  // hot-serving mode (spark.graft.tableCache=memory) — the catalog surface's
  // equivalent of Tables.t's pinned InMemoryRelation, so the SQL/CBO queries
  // measure compute, not parquet re-decode, in the hot bench passes.
  private val cachedIn =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  private def maybeCache(s: SparkSession): Unit =
    if (s.conf.get("spark.graft.tableCache", "meta") == "memory" && cachedIn.add(s))
      benchTables.foreach(n => s.sql(s"CACHE TABLE g_$n"))

  /** Run `sql` with CBO + cost-based join reorder on, FORCING the physical
    * plan inside the window (plans are lazy; without the force the conf
    * restore would win the race). Confs restored so the rest of a shared
    * session is untouched. */
  private[graft] def withCbo(s: SparkSession, sql: String): DataFrame = {
    maybeCache(s)
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    val old = keys.map(k => k -> s.conf.getOption(k))
    keys.foreach(s.conf.set(_, "true"))
    try { val df = s.sql(sql); df.queryExecution.executedPlan; df }
    finally old.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  private val q3Cut = "1998-07-01"

  /** q42 — shipping priority (TPC-H Q3 shape): segment-filtered customers'
    * not-yet-shipped order revenue. customer(1/5 segment) ⋈ orders(date <)
    * ⋈ lineitem(date >), 3 tables, agg after join, top-10. The selective
    * dimension is joined first; revenue is the exact fixed-point dsum. */
  val q42: Q = (s, d) => {
    val cut = lit(q3Cut).cast("timestamp")
    val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = t(s, d, "orders").filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = t(s, d, "lineitem").filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(dsum(col("rev"), 4), 4).as("revenue"))
      .select(col("l_orderkey"), tsStr(col("o_orderdate")).as("o_date"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** q43 — local supplier volume (TPC-H Q5 shape): revenue from orders
    * where the lineitem's supplier sits in the customer's own nation,
    * rolled up by nation within one region. SIX tables (region → nation →
    * customer → orders → lineitem → supplier) plus the non-star
    * s_nationkey = c_nationkey cross-dimension condition. Runs on the SQL
    * surface over the registered catalog with CBO join reordering. */
  private[graft] val q43Sql =
      """SELECT n_name,
        |  CAST(ROUND(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT))
        |        / CAST(10000.0 AS DOUBLE), 4) AS DOUBLE) AS revenue
        |FROM g_lineitem
        |JOIN g_orders   ON o_orderkey = l_orderkey
        |JOIN g_customer ON c_custkey = o_custkey
        |JOIN g_supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |JOIN g_nation   ON n_nationkey = c_nationkey
        |JOIN g_region   ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin

  val q43: Q = (s, d) => { registerCatalog(s, d); withCbo(s, q43Sql) }

  /** q44 — product-type profit (TPC-H Q9 shape): per (nation, order-year)
    * profit over PROMO-type parts, 5 tables. The FROM clause is written
    * deliberately naive — fact first, the 1/6-selective part dimension
    * LAST — and cost-based join reordering (catalog stats from
    * registerCatalog's ANALYZE) is what moves the selective join early;
    * BenchmarkSpec asserts the optimized order differs from the no-stats
    * plan. Profit uses only available columns (no partsupp table in the
    * testdata): revenue minus a 10% retail-price carrying cost. */
  private[graft] val q44Sql =
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(ROUND(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)
        |                        - 0.1 * p_retailprice * l_quantity) * 10000.0) AS BIGINT))
        |        / CAST(10000.0 AS DOUBLE), 4) AS DOUBLE) AS profit
        |FROM g_lineitem
        |JOIN g_orders   ON o_orderkey = l_orderkey
        |JOIN g_supplier ON s_suppkey = l_suppkey
        |JOIN g_nation   ON n_nationkey = s_nationkey
        |JOIN g_part     ON p_partkey = l_partkey
        |WHERE p_type = 'PROMO'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year""".stripMargin

  val q44: Q = (s, d) => { registerCatalog(s, d); withCbo(s, q44Sql) }

  /** q45 — returned-item reporting (TPC-H Q10 shape): customers ranked by
    * revenue they returned in a half-year window. customer ⋈ orders(window)
    * ⋈ lineitem(returnflag) ⋈ nation, 4 tables, top-20. */
  val q45: Q = (s, d) => {
    val ord = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val cust = t(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(dsum(col("rev"), 4), 4).as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  /** q46 — large-volume orders (TPC-H Q18 shape): orders whose total
    * lineitem quantity clears a threshold, with their customer. The
    * having-subquery aggregates lineitem FIRST (map-side combinable,
    * 8-byte keys across the exchange) and the ~6%-selective survivors
    * drive the customer/orders joins. */
  val q46: Q = (s, d) => {
    val big = t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      .filter(col("total_qty") > 200)
    val ord = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val cust = t(s, d, "customer").select(col("c_custkey"), col("c_name"))
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        tsStr(col("o_orderdate")).as("o_date"), col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(10)
  }

  // ---------------------------------------------------------------------
  // q47–q50 — correlated-subquery family (VERDICT r18 #2): the one big
  // Catalyst SQL surface q36/q37 never touch. q36 is an UNCORRELATED
  // scalar subquery and q37 an uncorrelated IN/NOT-IN; these four exercise
  // the decorrelation pipeline proper (RewriteCorrelatedScalarSubquery,
  // PullupCorrelatedPredicates → DecorrelateInnerQuery,
  // RewritePredicateSubquery → semi/anti joins). Shapes are the public
  // TPC-H Q17/Q21/Q13/Q22, re-expressed on the testdata columns (no
  // p_container/l_receiptdate/c_phone/o_comment in this star schema, so:
  // Q17's container filter → p_size; Q21's receipt>commit lateness →
  // shipped >60 days after order date; Q13's comment filter → order
  // priority; Q22's phone country code → the last c_name digit, and "no
  // orders" → "no orders since 2001" because every testdata customer has
  // at least one order).
  //
  // Both engines run the SAME SQL text (g_ prefix stripped for DuckDB), so
  // the twins can't drift. Numeric outputs use the drev convention: exact
  // fixed-point BIGINT sums (order-independent) and the fround FLOOR form
  // for the one rational (q47's /7.0) — never a bare ROUND on a rational.
  //
  // 100 TB shape: all four decorrelate to equi-joins on the fact table's
  // own keys (BenchmarkSpec asserts no correlated subquery survives the
  // optimizer — a per-row re-execution would be THE scale killer here).
  // q47: part ⋈ lineitem twice on l_partkey — the per-part AVG is a
  //   map-side-combinable agg, then an equi join; no row ever meets more
  //   than its own part's average.
  // q48: the EXISTS/NOT-EXISTS become semi/anti joins on l_orderkey —
  //   shuffle keys are order keys, state per key is bounded by lines/order.
  // q49: left outer + two cascaded count aggs, both map-side combinable.
  // q50: anti join on o_custkey + a once-computed scalar threshold.
  // ---------------------------------------------------------------------

  /** q47 — small-quantity-part revenue (TPC-H Q17 shape): parts of one
    * brand/size band, revenue of lineitems whose quantity is below 20% of
    * that part's own average quantity — the correlated SCALAR AGG subquery
    * (`RewriteCorrelatedScalarSubquery` → per-part aggregate + join). */
  private[graft] val q47Sql =
    """SELECT FLOOR(SUM(CAST(ROUND(l_extendedprice * CAST(100.0 AS DOUBLE)) AS BIGINT))
      |        / CAST(100.0 AS DOUBLE) / 7.0 * CAST(100.0 AS DOUBLE) + 0.5)
      |      / CAST(100.0 AS DOUBLE) AS avg_yearly
      |FROM g_lineitem l JOIN g_part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#23' AND p.p_size < 15
      |  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
      |                      FROM g_lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin

  /** q48 — waiting suppliers (TPC-H Q21 shape): suppliers in a nation set
    * who were the ONLY late shipper on a finished multi-supplier order.
    * Correlated EXISTS + NOT EXISTS with a non-equi conjunct
    * (`l2.l_suppkey <> l1.l_suppkey`) riding the equi-correlated key —
    * `RewritePredicateSubquery` plans both as semi/anti joins keyed on
    * l_orderkey with the <> as an extra join predicate. The NOT EXISTS
    * branch joins orders INSIDE the subquery (self-contained lateness) so
    * its only correlation is the equi key — the decorrelable spelling. */
  private[graft] val q48Sql =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM g_supplier
      |JOIN g_lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN g_orders o ON o.o_orderkey = l1.l_orderkey
      |JOIN g_nation ON n_nationkey = s_nationkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      |  AND EXISTS (SELECT 1 FROM g_lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM g_lineitem l3
      |                  JOIN g_orders o3 ON o3.o_orderkey = l3.l_orderkey
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** q49 — customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    * join with a filtered right side (the zero-order customers must
    * survive), then the distribution of per-customer counts — the
    * histogram-of-counts double aggregate. */
  private[graft] val q49Sql =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |      FROM g_customer c LEFT OUTER JOIN g_orders o
      |        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |      GROUP BY c.c_custkey) co
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q50 — dormant high-balance customers (TPC-H Q22 shape): an
    * UNCORRELATED scalar threshold (average positive balance over the
    * code-band, computed once — the one subquery that legitimately
    * survives optimization) + a correlated NOT EXISTS anti join on
    * o_custkey. totacctbal is the exact fixed-point sum. */
  private[graft] val q50Sql =
    """WITH pot AS (
      |  SELECT substring(c_name, 18, 1) AS cntrycode, c_acctbal, c_custkey
      |  FROM g_customer
      |  WHERE substring(c_name, 18, 1) IN ('1', '3', '5', '7'))
      |SELECT cntrycode, COUNT(*) AS numcust,
      |  SUM(CAST(ROUND(c_acctbal * CAST(100.0 AS DOUBLE)) AS BIGINT))
      |    / CAST(100.0 AS DOUBLE) AS totacctbal
      |FROM pot p
      |WHERE c_acctbal > (SELECT SUM(CAST(ROUND(c_acctbal * CAST(100.0 AS DOUBLE)) AS BIGINT))
      |                     / CAST(100.0 AS DOUBLE) / COUNT(*)
      |                   FROM pot WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM g_orders o
      |                  WHERE o.o_custkey = p.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY cntrycode
      |ORDER BY cntrycode""".stripMargin

  /** Catalog-SQL runner for the subquery family: registered tables + the
    * hot-mode cache pin, but NO CBO override — decorrelation is a default
    * optimizer path and should be exercised as every session sees it. */
  private def plainSql(s: SparkSession, d: String, sql: String): DataFrame = {
    registerCatalog(s, d); maybeCache(s); s.sql(sql)
  }

  val q47: Q = (s, d) => plainSql(s, d, q47Sql)
  val q48: Q = (s, d) => plainSql(s, d, q48Sql)
  val q49: Q = (s, d) => plainSql(s, d, q49Sql)
  val q50: Q = (s, d) => plainSql(s, d, q50Sql)

  val queries: Map[String, Q] = Map(
    "q42_ship_priority" -> q42,
    "q43_local_volume" -> q43,
    "q44_product_profit" -> q44,
    "q45_returned_items" -> q45,
    "q46_big_orders" -> q46,
    "q47_small_qty_revenue" -> q47,
    "q48_waiting_suppliers" -> q48,
    "q49_order_count_dist" -> q49,
    "q50_dormant_customers" -> q50)

  /** The Spark-SQL spelling of `Tables.dsum(rev, 4)` — fixed-point exact
    * sum, then DOUBLE division (the divisor MUST be cast: a bare `10000.0`
    * parses as DECIMAL and the output would ship DECIMAL(26,4), the q43/q44
    * round-11 defect class now guarded by Verify.badOutputColumns). */
  private val drev = "SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000.0) " +
    "AS BIGINT)) / CAST(10000.0 AS DOUBLE)"

  /** The same five queries as Spark SQL over the NAMED catalog's three-part
    * table names (`graft.<ns>.<table>` → sources.GraftCatalog → Spark's
    * parquet scan over the resolved files) — the SQL surface and the DSv2
    * connector as one path: projection/filter pushdown and size statistics
    * (broadcast-able dimensions) come with the scan, no temp views, no
    * ANALYZE.
    * Value-identical to `queries` (BenchmarkSpec asserts it per query). */
  /** g_ → three-part-name rewrite, anchored on table names (like [[stripG]]
    * — a bare replace would mangle `avg_yearly`). */
  private def reG(sql: String, ns: String): String =
    sql.replaceAll(s"g_(${benchTables.mkString("|")})", s"graft.$ns.$$1")

  private[graft] def catalogSql(ns: String): Map[String, String] = Map(
    "q42_ship_priority" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS STRING) AS o_date, o_orderpriority,
         |  ROUND($drev, 4) AS revenue
         |FROM graft.$ns.customer
         |JOIN graft.$ns.orders   ON c_custkey = o_custkey
         |JOIN graft.$ns.lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '$q3Cut'
         |  AND l_shipdate  > TIMESTAMP '$q3Cut'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q43_local_volume" -> q43Sql.replace("g_", s"graft.$ns."),
    "q44_product_profit" -> q44Sql.replace("g_", s"graft.$ns."),
    "q47_small_qty_revenue" -> reG(q47Sql, ns),
    "q48_waiting_suppliers" -> reG(q48Sql, ns),
    "q49_order_count_dist" -> reG(q49Sql, ns),
    "q50_dormant_customers" -> reG(q50Sql, ns),
    "q45_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ROUND($drev, 4) AS revenue
         |FROM graft.$ns.orders
         |JOIN graft.$ns.lineitem ON o_orderkey = l_orderkey
         |JOIN graft.$ns.customer ON o_custkey = c_custkey
         |JOIN graft.$ns.nation   ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
         |  AND o_orderdate <  TIMESTAMP '1999-07-01'
         |  AND l_returnflag = 'R'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q46_big_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
         |  FROM graft.$ns.lineitem GROUP BY 1 HAVING SUM(l_quantity) > 200)
         |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS STRING) AS o_date,
         |  o_totalprice, total_qty
         |FROM big
         |JOIN graft.$ns.orders   ON l_orderkey = o_orderkey
         |JOIN graft.$ns.customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)

  private val revDec = "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))"

  /** Strip the g_ catalog prefix from TABLE names only — a bare
    * `replace("g_", "")` would also mangle identifiers like `avg_yearly`
    * (the r19 q47 near-miss). Anchored on the known table set. */
  private def stripG(sql: String): String =
    sql.replaceAll(s"g_(${benchTables.mkString("|")})", "$1")

  val oracles: Map[String, String] = Map(
    // q47–q50: the SAME SQL text both engines run (prefix stripped) — the
    // correlated-subquery twins cannot drift from the Spark spelling.
    "q47_small_qty_revenue" -> stripG(q47Sql),
    "q48_waiting_suppliers" -> stripG(q48Sql),
    "q49_order_count_dist" -> stripG(q49Sql),
    "q50_dormant_customers" -> stripG(q50Sql),
    "q42_ship_priority" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS VARCHAR) AS o_date, o_orderpriority,
         |  ROUND(CAST(SUM($revDec) AS DOUBLE), 4) AS revenue
         |FROM customer
         |JOIN orders   ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '$q3Cut'
         |  AND l_shipdate  > TIMESTAMP '$q3Cut'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q43_local_volume" ->
      s"""SELECT n_name, ROUND(CAST(SUM($revDec) AS DOUBLE), 4) AS revenue
         |FROM lineitem
         |JOIN orders   ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
         |JOIN nation   ON n_nationkey = c_nationkey
         |JOIN region   ON r_regionkey = n_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate <  TIMESTAMP '1999-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q44_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |                      - CAST(0.1 AS DOUBLE) * p_retailprice * l_quantity
        |                      AS DECIMAL(28,4))) AS DOUBLE), 4) AS profit
        |FROM lineitem
        |JOIN orders   ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation   ON n_nationkey = s_nationkey
        |JOIN part     ON p_partkey = l_partkey
        |WHERE p_type = 'PROMO'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year""".stripMargin,
    "q45_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ROUND(CAST(SUM($revDec) AS DOUBLE), 4) AS revenue
         |FROM orders
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
         |  AND o_orderdate <  TIMESTAMP '1999-07-01'
         |  AND l_returnflag = 'R'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q46_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 200)
        |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_date,
        |  o_totalprice, total_qty
        |FROM big
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)
}
