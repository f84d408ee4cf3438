package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t, fround}
import graft.Tables.PinOps

/** Pattern-mining operators (SURVEY §2.2 E148–E149): market-basket
  * association rules and CUSUM change-point detection — the "what co-occurs"
  * and "when did the distribution shift" verbs a curation pipeline runs over
  * order history and ingest telemetry.
  *
  * Reference note: the reference's analytics surface is single-table
  * aggregation (`duckdb/query_and_publish.py:107-122`); these are north-star
  * extensions per SURVEY §2.2.
  */
object MiningQueries {
  import CoreQueries.Q

  /** x144 report size. The ITEM prune (a-priori: an item infrequent alone
    * cannot be in a frequent pair) keeps items with ABOVE-AVERAGE support
    * — self-normalizing in both of the ways catalogs actually scale (fixed
    * catalog × more baskets: average rises with data; keyspace growing
    * with data, as TPC-H scales parts: average stays put where any basket-
    * fraction threshold diverges and empties the answer). The REPORT is
    * top-[[mbTopN]] pairs by support, not a pair threshold, for the same
    * reason: a ranked bounded report is right at every scale. */
  private val mbTopN = 50

  /** x144 — market-basket association rules (E148): frequent part pairs
    * across order baskets with support / confidence (both directions) /
    * lift — the co-occurrence-mining verb (recommenders, "bought
    * together", co-topic detection over document tags).
    *
    * A-priori pruning does the scale work: an item infrequent alone cannot
    * be in a frequent pair, so baskets are semi-joined to frequent items
    * BEFORE the pair self-join, and the self-join is co-partitioned on
    * basket id with fan-out bounded by (frequent items per basket)² —
    * basket size is physics-bounded (a cart, a session), never corpus-
    * bounded. Item supports are a dimension-sized broadcast at the final
    * annotate. All counts integer; conf/lift are final-render doubles with
    * identical IEEE trees in the twin, fround 6.
    *
    * 100 TB shape: one distinct + one item-count agg + one bid-partitioned
    * pair join + one pair agg — every exchange carries (bid,item) pairs or
    * partial counts. The threshold scalar rides a 1-row broadcast cross
    * join (the benign scalar shape ExplainAudit allowlists). */
  val x144: Q = (s, d) => {
    // r20 audit: deliberately NOT checkpoint-materialized — the before-plan
    // already carries 6 ReusedExchange nodes (the distinct's and isup's
    // exchanges are IDENTICAL subtrees across all consumers, so Spark's
    // ReuseExchange computes each once); pinning was measured 0.76→1.02 s
    // at sf0.1 (pure materialization overhead) and reverted.
    val b = t(s, d, "lineitem")
      .select(col("l_orderkey").as("bid"), col("l_partkey").as("item")).distinct()
    val tot = b.agg(countDistinct(col("bid")).as("n_baskets"))
    val isup = b.groupBy(col("item")).agg(count(lit(1)).as("sup_i"))
    val avgSup = isup.agg(greatest(lit(2L),
      ceil(sum(col("sup_i")).cast("double") / count(lit(1)).cast("double")).cast("long")).as("th"))
    val freq = isup.crossJoin(avgSup).filter(col("sup_i") >= col("th")).select(col("item"))
    val fb = b.join(freq, Seq("item")).select(col("bid"), col("item"))
    val pairs = fb.select(col("bid"), col("item").as("item_a"))
      .join(fb.select(col("bid"), col("item").as("item_b")), Seq("bid"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("sup_ab"))
    def dbl(c: String) = col(c).cast("double")
    val top = pairs // bounded TakeOrdered: mbTopN rows cross the final exchange
      .orderBy(desc("sup_ab"), col("item_a"), col("item_b")).limit(mbTopN)
    top.withColumn("rank", row_number().over( // mbTopN-row local frame
        Window.orderBy(desc("sup_ab"), col("item_a"), col("item_b"))))
      .crossJoin(tot)
      .join(broadcast(isup.select(col("item").as("item_a"), col("sup_i").as("sup_a"))), Seq("item_a"))
      .join(broadcast(isup.select(col("item").as("item_b"), col("sup_i").as("sup_b"))), Seq("item_b"))
      .select(col("rank").cast("long").as("rank"),
        col("item_a"), col("item_b"), col("sup_ab"), col("sup_a"), col("sup_b"),
        fround(dbl("sup_ab") / dbl("sup_a"), 6).as("conf_a_b"),
        fround(dbl("sup_ab") / dbl("sup_b"), 6).as("conf_b_a"),
        fround(dbl("n_baskets") * dbl("sup_ab") / (dbl("sup_a") * dbl("sup_b")), 6).as("lift"))
      .orderBy(col("rank"))
  }

  /** x145 — CUSUM change-point detection (E149): two-sided cumulative-sum
    * control chart over per-day event volumes, per event type — the
    * "when did ingest shift" monitor next to x116's distribution drift
    * (x116 answers IF two snapshots differ; x145 answers WHEN the level
    * changed inside one series). Page's classic recursion
    * S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − μ)), S⁻ₜ symmetric, reported as the peak
    * deviation and its FIRST day, per side.
    *
    * Determinism: the mean-centering is scaled by n_days (n·xₜ − Σx) so
    * the whole recursion is integer — no float ever enters, the twin
    * replays the identical arithmetic in a recursive CTE.
    *
    * 100 TB shape: raw events collapse FIRST to the (type, day) grid (one
    * map-side-combined agg — the only data-scale pass); the inherently
    * sequential fold then runs per type over that GRID-BOUNDED series
    * (days × types, independent of row count) inside a single codegen'd
    * higher-order `aggregate` over the sorted array — the x125 pre-agg
    * discipline: sequential work is fine once it is provably grid-sized.
    * Multi-year deployments chunk the fold per calendar year (the
    * recursion restarts at level 0 per chunk boundary). */
  val x145: Q = (s, d) => {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val series = daily.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("nd"),
        sort_array(collect_list(struct(col("day"), col("cnt")))).as("seq"))
    val walk = series.withColumn("w", expr(
      """aggregate(seq,
        |  named_struct('sp', 0L, 'sn', 0L,
        |    'bestp', -1L, 'dayp', CAST(NULL AS DATE),
        |    'bestn', -1L, 'dayn', CAST(NULL AS DATE)),
        |  (a, e) -> named_struct(
        |    'sp', greatest(0L, a.sp + nd * e.cnt - tot),
        |    'sn', greatest(0L, a.sn - (nd * e.cnt - tot)),
        |    'bestp', greatest(a.bestp, greatest(0L, a.sp + nd * e.cnt - tot)),
        |    'dayp', if(greatest(0L, a.sp + nd * e.cnt - tot) > a.bestp, e.day, a.dayp),
        |    'bestn', greatest(a.bestn, greatest(0L, a.sn - (nd * e.cnt - tot))),
        |    'dayn', if(greatest(0L, a.sn - (nd * e.cnt - tot)) > a.bestn, e.day, a.dayn)))""".stripMargin))
    walk.select(col("event_type"), col("nd").as("n_days"),
        col("w.bestp").as("cusum_pos"), col("w.dayp").as("day_pos"),
        col("w.bestn").as("cusum_neg"), col("w.dayn").as("day_neg"))
      .orderBy(col("event_type"))
  }

  /** x149 — A/B experiment readout with a two-proportion z-test (E153):
    * users hash-bucket into variants (user_id parity — the deterministic
    * assignment every experimentation stack uses so re-runs re-derive the
    * same split; a user's WHOLE stream lands on one side), the metric is
    * purchase share of events, and the readout is the pooled
    * two-proportion z statistic with the |z| ≥ 1.96 call — the "did the
    * experiment move the metric" verb. (Event-level rather than has-
    * converted user-level: at this fixture's ~70 events/user the user
    * metric saturates at 100 % on both sides and the test degenerates to
    * 0/0 — share-of-traffic metrics stay informative at any density.)
    *
    * Determinism: counts are exact integers off ONE map-side-combined
    * aggregate; the z render is a fixed IEEE expression over those ints,
    * identical in the twin, fround 6.
    *
    * 100 TB shape: the 2-group count-sum agg is the only data-scale pass
    * (partials cross the exchange), the 2×2 readout is a 1-row result. */
  val x149: Q = (s, d) => {
    val g = t(s, d, "events")
      .select((col("user_id") % 2).as("variant"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val wide = g.agg(
      sum(when(col("variant") === 0, col("n")).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("c")).otherwise(0L)).as("c_a"),
      sum(when(col("variant") === 1, col("n")).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("c")).otherwise(0L)).as("c_b"))
    def dd(c: String) = col(c).cast("double")
    val (na, ca, nb, cb) = (dd("n_a"), dd("c_a"), dd("n_b"), dd("c_b"))
    val pPool = (ca + cb) / (na + nb)
    val z = (ca / na - cb / nb) /
      sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / na + lit(1.0) / nb))
    wide.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      fround(ca / na, 6).as("rate_a"), fround(cb / nb, 6).as("rate_b"),
      fround(z, 6).as("z"),
      (abs(z) >= lit(1.96)).as("significant"))
  }

  /** x165 — split-conformal threshold + coverage audit (E170): the
    * distribution-free prediction-interval verb a model-serving pipeline
    * wraps around any scorer — per event type, the calibration half's
    * ⌈(1−α)(n+1)⌉-th smallest score becomes the threshold q̂, and the
    * held-out half audits the finite-sample guarantee (coverage ≥ 1−α,
    * α=0.1). Complements x154 (is the score calibrated in-bin) and x143
    * (does it rank) with the THIRD model-QA question: can it bound.
    *
    * Determinism: the deterministic even/odd event_id split (the
    * x118/x149 discipline), an all-integer rank k = ⌈9(n+1)/10⌉
    * (= (9(n+1)+9) div 10), threshold picked by the x108/x150
    * cumulative-histogram rule on the exact cents grid, coverage a
    * single final division (fround 6).
    *
    * 100 TB shape: rows collapse to the (type, cents) grid in ONE
    * map-side-combined aggregate carrying BOTH halves' counts (the x162
    * one-pass-two-states trick); the quantile pick and coverage are
    * grid-bounded windows/joins against a broadcast ≤|types|-row totals
    * frame — no row-level sort, no second scan. */
  val x165: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_type"),
      round(col("value") * 100).cast("long").as("c"),
      (col("event_id") % 2 === 0).as("cal"))
    val grid = ev.groupBy(col("event_type"), col("c")).agg(
      sum(when(col("cal"), 1L).otherwise(0L)).as("f1"),
      sum(when(col("cal"), 0L).otherwise(1L)).as("f2"))
    val tot = grid.groupBy(col("event_type")).agg(
        sum(col("f1")).as("n_cal"), sum(col("f2")).as("n_test"))
      .withColumn("k", expr("(9 * (n_cal + 1) + 9) div 10"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, 0) // grid-bounded, not rows
    val cum = grid.withColumn("cum1", sum(col("f1")).over(w))
    val thr = cum.join(broadcast(tot), "event_type")
      .filter(col("cum1") >= col("k") && col("cum1") - col("f1") < col("k"))
      .select(col("event_type"), col("c").as("q_cents"),
        col("n_cal"), col("n_test"), col("k"))
    val cov = grid.join(broadcast(thr.select(col("event_type"), col("q_cents"))),
        "event_type")
      .filter(col("c") <= col("q_cents"))
      .groupBy(col("event_type")).agg(sum(col("f2")).as("n_cov"))
    thr.join(cov, "event_type")
      .select(col("event_type"), col("n_cal"), col("n_test"),
        col("k").as("rank_k"), col("q_cents"),
        fround(col("n_cov").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage"))
      .orderBy(col("event_type"))
  }

  /** x166 — ABC / Pareto revenue-concentration classification (E171):
    * rank parts by discounted revenue, classify by cumulative share —
    * A carries the first 80%, B to 95%, C the tail — the inventory-
    * policy / curation-priority verb (which 20% of sources carry 80% of
    * the corpus weight). Complements x150 (Gini says HOW concentrated;
    * ABC says WHICH members make up each band) and x141's skyline
    * (dominance, not concentration).
    *
    * Determinism: revenue in exact myriacents (the q43 convention), the
    * rank a total order (rev DESC, partkey), class membership decided by
    * INTEGER cross-multiplication (cum·5 ≤ tot·4, cum·20 ≤ tot·19 —
    * DECIMAL(38,0)/HUGEINT, never a float share), so the boundary part
    * lands identically on both engines; shares are final renders
    * (hi·1e9+lo, fround 6).
    *
    * 100 TB shape: the fact collapses to the PART dimension in ONE
    * map-side-combined agg. The concentration curve is inherently a
    * global order, but the cumulative sum is NOT computed in one window
    * partition (r16 — the single-partition form serialized the whole dim
    * through one task and one BigDecimal accumulator: 15.2 s at sf10,
    * where the 2M-part dim had outgrown "dim-grid-bounded"): it is the
    * classic two-phase distributed prefix sum — range-repartition on the
    * total order, per-range local cumulative windows in parallel, then a
    * partition-count-bounded exclusive-prefix window over the per-range
    * totals broadcast back as offsets. The split boundaries are sampled
    * (nondeterministic), but cum per row is split-independent — a prefix
    * sum is well-defined given the total order, so both engines agree
    * bit-for-bit whatever the partitioning. */
  val x166: Q = (s, d) => {
    // r20 (guide §2.4): rev is consumed by BOTH the totals agg and the
    // range repartition — lazily each re-ran the full lineitem scan + agg.
    // Pinned once; part-keyed, so it scales with the part dimension.
    val rev = graft.Tables.pin(t(s, d, "lineitem")
      .select(col("l_partkey"),
        expr("CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)").as("r"))
      .groupBy(col("l_partkey")).agg(sum(col("r")).as("rev")))
    // decimal BEFORE the sums: the corpus-total and cumulative revenue
    // overflow longs at 100 TB, and the twins sum in HUGEINT (cast-first)
    val tot = rev.agg(sum(col("rev").cast("decimal(38,0)")).as("tot"),
      count(lit(1)).as("n_all"))
    // phase 1: range-split the total order (rev DESC, key), local prefix
    // sums per range — each range windows in parallel
    val ranged = rev.repartitionByRange(desc("rev"), col("l_partkey"))
      .withColumn("pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("pid"))
      .orderBy(desc("rev"), col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // Materialized ONCE (eager localCheckpoint, the x178 convention):
    // `local` is consumed twice below (per-range offsets AND the join
    // probe side). Without pinning, identical pids on both sides depend
    // on the range exchange being planner-reused — if reuse is disabled
    // or planning splits the subtrees, each side re-SAMPLES its own range
    // boundaries and the offset join silently corrupts the prefix sum.
    val local = ranged.withColumn("lcum",
      sum(col("rev").cast("decimal(38,0)")).over(wLocal))
      .pin
    // phase 2: exclusive prefix of the per-range totals (≤ shuffle-
    // partition-count rows — THIS window is the bounded one), broadcast
    // back; global cum = range offset + local cum
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = local.groupBy(col("pid"))
      .agg(sum(col("rev").cast("decimal(38,0)")).as("ptot"))
      .select(col("pid"), coalesce(sum(col("ptot")).over(wOff),
        lit(0).cast("decimal(38,0)")).as("off"))
    val cls = local.join(broadcast(offs), "pid")
      .withColumn("cum", col("lcum") + col("off"))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum") * 5 <= col("tot") * 4, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B")
          .otherwise("C"))
    def hilo(c: String) =
      expr(s"$c div 1000000000").cast("double") * lit(1e9) +
        expr(s"$c % 1000000000").cast("double")
    cls.groupBy(col("abc_class")).agg(
        count(lit(1)).as("n_parts"),
        sum(col("rev").cast("decimal(38,0)")).as("rev_cls"),
        max(col("tot")).as("tot"), max(col("n_all")).as("n_all"))
      .select(col("abc_class"), col("n_parts"),
        fround(col("n_parts").cast("double") / col("n_all").cast("double"), 6)
          .as("part_share"),
        fround(hilo("rev_cls") / hilo("tot"), 6).as("rev_share"))
      .orderBy(col("abc_class"))
  }

  val queries: Map[String, Q] = Map(
    "x144_basket_rules" -> x144,
    "x145_cusum" -> x145,
    "x165_conformal" -> x165,
    "x166_abc_class" -> x166,
    "x149_ab_test" -> x149)

  val oracles: Map[String, String] = Map(
    "x166_abc_class" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(rev) AS HUGEINT) AS tot, COUNT(*) AS n_all FROM rev),
        |cum AS (
        |  SELECT l_partkey, rev,
        |    CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey) AS HUGEINT) AS cum
        |  FROM rev),
        |cls AS (
        |  SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
        |              WHEN cum * 20 <= tot * 19 THEN 'B'
        |              ELSE 'C' END AS abc_class, rev
        |  FROM cum, tot),
        |g AS (
        |  SELECT abc_class, COUNT(*) AS n_parts,
        |    SUM(CAST(rev AS HUGEINT)) AS rev_cls
        |  FROM cls GROUP BY 1)
        |SELECT abc_class, n_parts,
        |  floor(CAST(n_parts AS DOUBLE) / CAST(n_all AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS part_share,
        |  floor((CAST(rev_cls // 1000000000 AS DOUBLE) * 1e9 + CAST(rev_cls % 1000000000 AS DOUBLE))
        |    / (CAST(tot // 1000000000 AS DOUBLE) * 1e9 + CAST(tot % 1000000000 AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS rev_share
        |FROM g, tot ORDER BY 1""".stripMargin,
    "x165_conformal" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
        |    (event_id % 2 = 0) AS cal
        |  FROM events),
        |grid AS (
        |  SELECT event_type, c,
        |    CAST(SUM(CASE WHEN cal THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN cal THEN 0 ELSE 1 END) AS BIGINT) AS f2
        |  FROM ev GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(SUM(f1) AS BIGINT) AS n_cal,
        |    CAST(SUM(f2) AS BIGINT) AS n_test,
        |    (9 * (CAST(SUM(f1) AS BIGINT) + 1) + 9) // 10 AS k
        |  FROM grid GROUP BY 1),
        |cum AS (
        |  SELECT event_type, c, f1, f2,
        |    SUM(f1) OVER (PARTITION BY event_type ORDER BY c) AS cum1
        |  FROM grid),
        |thr AS (
        |  SELECT cum.event_type, cum.c AS q_cents, tot.n_cal, tot.n_test, tot.k
        |  FROM cum JOIN tot USING (event_type)
        |  WHERE cum.cum1 >= tot.k AND cum.cum1 - cum.f1 < tot.k),
        |cov AS (
        |  SELECT grid.event_type, CAST(SUM(grid.f2) AS BIGINT) AS n_cov
        |  FROM grid JOIN thr USING (event_type)
        |  WHERE grid.c <= thr.q_cents GROUP BY 1)
        |SELECT event_type, n_cal, n_test, k AS rank_k, q_cents,
        |  floor(CAST(n_cov AS DOUBLE) / CAST(n_test AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS coverage
        |FROM thr JOIN cov USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "x144_basket_rules" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem),
         |tot AS (SELECT COUNT(DISTINCT bid) AS nb FROM b),
         |isup AS (SELECT item, COUNT(*) AS sup FROM b GROUP BY 1),
         |th AS (SELECT GREATEST(2, CAST(ceil(CAST(SUM(sup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)) AS th FROM isup),
         |freq AS (SELECT i.item FROM isup i, th WHERE i.sup >= th.th),
         |fb AS (SELECT b.bid, b.item FROM b JOIN freq USING (item)),
         |pairs AS (
         |  SELECT a.item AS item_a, c.item AS item_b, COUNT(*) AS sup_ab
         |  FROM fb a JOIN fb c ON a.bid = c.bid AND a.item < c.item GROUP BY 1, 2),
         |q AS (
         |  SELECT p.*, ROW_NUMBER() OVER (ORDER BY p.sup_ab DESC, p.item_a, p.item_b) AS rank
         |  FROM pairs p)
         |SELECT CAST(q.rank AS BIGINT) AS rank, q.item_a, q.item_b,
         |  CAST(q.sup_ab AS BIGINT) AS sup_ab,
         |  CAST(ia.sup AS BIGINT) AS sup_a, CAST(ib.sup AS BIGINT) AS sup_b,
         |  floor(CAST(q.sup_ab AS DOUBLE) / CAST(ia.sup AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS conf_a_b,
         |  floor(CAST(q.sup_ab AS DOUBLE) / CAST(ib.sup AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS conf_b_a,
         |  floor(CAST(tot.nb AS DOUBLE) * CAST(q.sup_ab AS DOUBLE) /
         |    (CAST(ia.sup AS DOUBLE) * CAST(ib.sup AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS lift
         |FROM q JOIN isup ia ON ia.item = q.item_a JOIN isup ib ON ib.item = q.item_b, tot
         |WHERE q.rank <= $mbTopN
         |ORDER BY rank""".stripMargin,
    "x149_ab_test" ->
      """WITH g AS (
        |  SELECT user_id % 2 AS variant, COUNT(*) AS n,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN c ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN c ELSE 0 END) AS BIGINT) AS c_b
        |  FROM g),
        |dd AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS nad, CAST(c_a AS DOUBLE) AS cad,
        |    CAST(n_b AS DOUBLE) AS nbd, CAST(c_b AS DOUBLE) AS cbd
        |  FROM w),
        |zz AS (
        |  SELECT *,
        |    (cad / nad - cbd / nbd) /
        |      sqrt(((cad + cbd) / (nad + nbd)) * (1.0 - (cad + cbd) / (nad + nbd))
        |        * (1.0 / nad + 1.0 / nbd)) AS z
        |  FROM dd)
        |SELECT n_a, c_a, n_b, c_b,
        |  floor(cad / nad * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
        |  floor(cbd / nbd * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
        |  floor(z * 1000000.0 + 0.5) / 1000000.0 AS z,
        |  abs(z) >= 1.96 AS significant
        |FROM zz""".stripMargin,
    "x145_cusum" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tot, COUNT(*) AS nd
        |       FROM daily GROUP BY 1),
        |seq AS (
        |  SELECT d.event_type, d.day, d.cnt, s.tot, s.nd,
        |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
        |  FROM daily d JOIN st s USING (event_type)),
        |walk AS (
        |  SELECT event_type, rn, day,
        |    GREATEST(0, nd * cnt - tot) AS sp,
        |    GREATEST(0, -(nd * cnt - tot)) AS sn
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.event_type, s.rn, s.day,
        |    GREATEST(0, w.sp + s.nd * s.cnt - s.tot),
        |    GREATEST(0, w.sn - (s.nd * s.cnt - s.tot))
        |  FROM walk w JOIN seq s ON s.event_type = w.event_type AND s.rn = w.rn + 1),
        |peaks AS (
        |  SELECT event_type, MAX(sp) AS bestp, MAX(sn) AS bestn FROM walk GROUP BY 1)
        |SELECT p.event_type, CAST(s.nd AS BIGINT) AS n_days,
        |  CAST(p.bestp AS BIGINT) AS cusum_pos,
        |  (SELECT MIN(day) FROM walk w WHERE w.event_type = p.event_type AND w.sp = p.bestp) AS day_pos,
        |  CAST(p.bestn AS BIGINT) AS cusum_neg,
        |  (SELECT MIN(day) FROM walk w WHERE w.event_type = p.event_type AND w.sn = p.bestn) AS day_neg
        |FROM peaks p JOIN st s USING (event_type)
        |ORDER BY event_type""".stripMargin)
}
