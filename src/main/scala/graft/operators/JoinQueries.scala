package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{t, dsum}
import graft.Tables.PinOps

/** SURVEY.md §2.4 Q10–Q15 — the join surface (E1–E5).
  *
  * The reference itself never joins (SURVEY §2.3); these are the north-star
  * extension operators, planned the way they must run at 100 TB:
  *  - fact⋈fact (orders⋈customer, lineitem⋈orders) shuffles on the join key —
  *    at scale both sides hash-partition; AQE handles skew splitting.
  *  - dimension joins (nation/region, ≤ a few thousand rows at any SF) are
  *    explicitly `broadcast()` so no shuffle of the big side ever happens.
  */
object JoinQueries {
  import CoreQueries.Q

  /** Q10 — inner equi join + grouped agg (E1). Exact-decimal sum so the
    * result is reduction-order independent (oracle parity at any scale). */
  val q10: Q = (s, d) => {
    val o = t(s, d, "orders")
    val c = t(s, d, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("c"), round(dsum(col("o_totalprice")), 2).as("s"))
      .orderBy(col("c_mktsegment"))
  }

  /** Q11 — broadcast dimension chain customer→nation→region (E2). */
  val q11: Q = (s, d) => {
    val c = t(s, d, "customer")
    val n = t(s, d, "nation")
    val r = t(s, d, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("r_name"))
  }

  /** Q12 — left outer join with null-side accounting (E3). */
  val q12: Q = (s, d) => {
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_orders"),
        sum(when(col("o_orderkey").isNull, 1).otherwise(0)).cast("long").as("n_no_order"))
      .orderBy(col("c_mktsegment"))
  }

  /** Q13 — left semi ⇔ EXISTS (E4): customers with ≥1 order. */
  val q13: Q = (s, d) => {
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n"))
  }

  /** Q14 — left anti ⇔ NOT EXISTS (E4): parts never ordered. */
  val q14: Q = (s, d) => {
    val p = t(s, d, "part")
    val li = t(s, d, "lineitem")
    p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
  }

  /** Q15 — equi + range predicate join (E5). The equi key carries the
    * shuffle; the inequality is evaluated as a post-join filter inside the
    * sort-merge join — never a nested-loop cross product. */
  val q15: Q = (s, d) => {
    val li = t(s, d, "lineitem")
    val o = t(s, d, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey") && li("l_shipdate") > o("o_orderdate"))
      .agg(count(lit(1)).as("n"))
  }

  /** x96 — fuzzy self-join on edit distance ≤ 1 (E91): entity-resolution's
    * core primitive — find all customer-name pairs one typo apart — via
    * DELETION-NEIGHBORHOOD blocking instead of the unscalable N² sweep.
    * Signature set of a name = the name itself plus each single-character
    * deletion; any two strings within edit distance 1 SHARE a signature
    * (substitution at p ⇒ both p-deletions equal; insertion/deletion ⇒ the
    * shorter string is itself a deletion variant of the longer), so the
    * equi-join on the h60'd signature is a COMPLETE candidate generator and
    * the exact `levenshtein` filter touches only collisions.
    *
    * 100 TB shape: each name explodes into len+1 16-byte (hash, id) rows —
    * a co-partitioned self-join on the signature hash, the x41 band-join
    * chassis for strings; bucket fan-out is bounded by how many names share
    * a (len−1)-subsequence, the string analogue of the x82 df cap. */
  /** Name-level fuzzy pair generation behind x96 AND x119: deletion-
    * neighborhood blocking + exact levenshtein verify over DISTINCT names
    * → (a_name, b_name, dist ≤ 1), a_name < b_name. Dedupe-then-expand
    * (round-9 rewrite, −8× at sf1): under duplicate-heavy data the
    * candidate stream shrinks ~dup² vs id-level blocking. */
  private def fuzzyNamePairs(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val names = graft.Tables.spread(cust.select(col("name")).distinct())
    val variants = transform(sequence(lit(1), length(col("name"))), p =>
      concat(col("name").substr(lit(1), p - lit(1)),
        col("name").substr(p + lit(1), lit(1000000))))
    val sigs = names.select(col("name"),
      explode(array_distinct(graft.functions.VectorExprs.h60Array(
        array_union(variants, array(col("name")))))).as("sig"))
      // deletion-neighborhood signature frame (len+1 md5 hashes per name)
      // materialized once for both self-join sides (r19, guide §2.4)
      .pin
    val a = sigs.select(col("name").as("a_name"), col("sig"))
    val b = sigs.select(col("name").as("b_name"), col("sig"))
    // r20 (guide §2.3/§2.5 + skew audit): sig-bucket sizes at sf0.1 are
    // ≤38 names (1500 hot buckets from digit-position deletions; max/median
    // bounded) — no salting needed. Two verify fixes instead:
    //  - BANDED levenshtein (threshold 1): the unbounded form runs the full
    //    O(|a|·|b|) DP per candidate; with threshold 1 the DP is a 3-wide
    //    band (returns −1 past the bound, so `>= 0` ⇔ `dist ≤ 1`; the kept
    //    rows' dist value is identical).
    //  - verify BEFORE distinct: the old spelling shuffled ~956k distinct
    //    candidate string pairs, then verified; verifying first cuts the
    //    distinct's exchange to the ~262k true pairs (3.6× fewer bytes).
    // Same verified pair set, same dist — oracle hash unchanged.
    a.join(b, Seq("sig"))
      .filter(col("a_name") < col("b_name") &&
        levenshtein(col("a_name"), col("b_name"), 1) >= 0)
      // dist ≡ 1 for every kept row: the frame holds DISTINCT names, so
      // a_name < b_name ⇒ a ≠ b ⇒ lev ≥ 1, and the filter bounds it ≤ 1 —
      // the literal replaces a second per-row levenshtein evaluation
      // (identical value, proven by the name-distinctness invariant).
      .select(col("a_name"), col("b_name"), lit(1L).as("dist"))
      .distinct()
  }

  val x96: Q = (s, d) => {
    val cust = t(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val namePairs = fuzzyNamePairs(s, d)
    // cross-name expansion: every id of one name against every id of the
    // other (distinct names ⇒ distinct ids; orient by id order)
    val cross = namePairs
      .join(cust.select(col("name").as("a_name"), col("id").as("ia")), "a_name")
      .join(cust.select(col("name").as("b_name"), col("id").as("ib")), "b_name")
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("dist"))
    // identical-name pairs (distance 0): unordered id pairs within a name
    val dup = cust.select(col("name"), col("id").as("ia"))
      .join(cust.select(col("name"), col("id").as("ib")), "name")
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("a_id"), col("ib").as("b_id"), lit(0L).as("dist"))
    cross.unionAll(dup).orderBy(col("a_id"), col("b_id"))
  }

  /** x106 — MERGE INTO / upsert apply (E101): the lakehouse-defining
    * mutation — apply a change batch (updates / deletes / inserts) to a
    * snapshot in one pass with MERGE precedence: matched+D deletes,
    * matched+U replaces, unmatched+I inserts, everything else carries the
    * base row. The change set is derived deterministically from the
    * snapshot itself (key mod classes + beyond-max inserts) so both
    * engines build the identical batch; delete wins over update on keys in
    * both classes (the precedence rule is applied at change-build time, so
    * the join sees at most ONE change per key — the uniqueness contract
    * real MERGE enforces with a cardinality check).
    *
    * 100 TB shape: ONE full-outer join co-partitioned on the key — the
    * shuffle core of Delta/Iceberg MERGE (their file-rewrite half is the
    * snapshot-commit machinery in `streaming.IngestJob`; this operator is
    * the row-level semantics both rewrite strategies share). The change
    * batch is typically MUCH smaller than the snapshot — under AQE it
    * broadcasts and the base side never shuffles at all. */
  val x106: Q = (s, d) => {
    val c = t(s, d, "customer")
    val upd = c.filter(col("c_custkey") % 10 === 0 && !(col("c_custkey") % 17 === 3))
      .select(col("c_custkey").as("k"), col("c_name").as("u_name"),
        col("c_nationkey").as("u_nat"), (col("c_acctbal") + 100.0).as("u_bal"),
        col("c_mktsegment").as("u_seg"), lit("U").as("op"))
    val del = c.filter(col("c_custkey") % 17 === 3)
      .select(col("c_custkey").as("k"), lit(null).cast("string").as("u_name"),
        lit(null).cast("int").as("u_nat"), lit(null).cast("double").as("u_bal"),
        lit(null).cast("string").as("u_seg"), lit("D").as("op"))
    val ins = c.agg(max(col("c_custkey")).as("mx"))
      .select(explode(sequence(lit(1), lit(20))).as("i"), col("mx"))
      .select((col("mx") + col("i")).as("k"),
        concat(lit("Customer#new-"), col("i").cast("string")).as("u_name"),
        (col("i") % 25).cast("int").as("u_nat"),
        (col("i") * lit(10.0)).as("u_bal"),
        lit("AUTOMOBILE").as("u_seg"), lit("I").as("op"))
    val changes = upd.unionAll(del).unionAll(ins)
    def pick(u: String, b: String) = when(col("op").isNotNull, col(u)).otherwise(col(b))
    c.join(changes, col("c_custkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        pick("u_name", "c_name").as("c_name"),
        pick("u_nat", "c_nationkey").as("c_nationkey"),
        graft.Tables.fround(pick("u_bal", "c_acctbal"), 2).as("c_acctbal"),
        pick("u_seg", "c_mktsegment").as("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** x110 interval-join bucket width (days). Intervals here are 1–30 days
    * (TPC-H receipt = ship + U[1,30]), so each expands to ≤ 3 buckets —
    * the expansion factor is ⌈len/width⌉+1, tuned to the interval-length
    * distribution. Shared with the spec; the twin states the DECLARATIVE
    * inequality form (DuckDB plans it as an IEJoin). */
  private[graft] val ivBucketDays = 16

  /** x110 — bucketed interval-overlap join (E107): for every distinct
    * order date, how many lineitems were IN TRANSIT (shipped but not yet
    * received: l_shipdate ≤ d < l_receiptdate) and their total quantity —
    * the point-in-interval join behind temporal analytics (active
    * sessions at time t, open incidents at t, inventory in flight).
    *
    * The naive plan is a nested-loop over |probes|×|intervals| (Spark
    * turns a pure inequality join into BroadcastNestedLoopJoin — fine for
    * a dim-sized side, quadratic death at 100 TB). This operator is the
    * SCALE formulation: decompose each interval into the fixed-width date
    * buckets it covers (bounded expansion: ≤ ⌈30/16⌉+1 = 3 rows per
    * interval), bucket each probe point by the same width, equi-join on
    * the bucket id, and apply the exact range predicate AFTER the join.
    * Complete by construction — an interval covering d covers d's bucket
    * — and duplicate-free: a POINT has exactly one bucket, so each
    * qualifying (probe, interval) pair meets exactly once, no dedup pass.
    * Both sides shuffle-partition on the bucket key; candidate fan-in per
    * bucket tracks data density, and a hot bucket splits under AQE skew
    * handling. This is x72's range-bucket escape promoted to a general
    * binary join operator. */
  val x110: Q = (s, d) => {
    val epoch = lit("1992-01-01").cast("date")
    // receipt = ship + 1..30 days, derived deterministically from the keys
    // (the testdata carries no receiptdate) — interval construction is part
    // of the shared contract, the JOIN is the operator under test
    val li = t(s, d, "lineitem")
      .select(col("l_shipdate").cast("date").as("sd"),
        (col("l_orderkey") * 7 + col("l_linenumber")).as("tk"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("sdn", datediff(col("sd"), epoch).cast("long"))
      .withColumn("rdn", col("sdn") + 1 + pmod(col("tk"), lit(30L)))
    val iv = li.withColumn("bk",
      explode(sequence(floor(col("sdn") / ivBucketDays),
        floor((col("rdn") - 1) / ivBucketDays))))
    val probes = t(s, d, "orders")
      .select(col("o_orderdate").cast("date").as("pd")).distinct()
      .withColumn("pdn", datediff(col("pd"), epoch).cast("long"))
      .withColumn("bk", floor(col("pdn") / ivBucketDays))
    probes.join(iv, Seq("bk"))
      .filter(col("sdn") <= col("pdn") && col("pdn") < col("rdn"))
      .groupBy(col("pd"))
      .agg(count(lit(1)).as("n_transit"), sum(col("qty")).as("qty_transit"))
      .select(col("pd").as("probe_date"), col("n_transit"), col("qty_transit"))
      .orderBy(col("probe_date"))
  }

  /** x117 salt fan-out. */
  private val saltR = 8L

  /** Shared deletion-neighborhood blocking CTEs (customer table → verified
    * candidate set `cand`), embedded by both the x96 and x119 twins. */
  private val fuzzyPairCtes =
    """c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
      |sigs AS (
      |  SELECT id, name, unnest(list_distinct(list_append(
      |    list_transform(range(1, len(name) + 1),
      |      p -> substr(name, 1, p - 1) || substr(name, p + 1)), name))) AS sig
      |  FROM c),
      |cand AS (
      |  SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.name AS an, b.name AS bn
      |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.id < b.id)""".stripMargin

  /** x117 — salted skew join (E114): the hot-key survival technique made
    * a first-class, equivalence-proven operator. A shuffled equi-join
    * sends every row of a key to ONE reducer — a key holding 1% of a
    * 100 TB fact table is a 1 TB straggler task. Salting splits each
    * build-side key into R copies (key, 0..R−1) and tags each probe row
    * with a deterministic salt in [0,R), so the equi-join on (key, salt)
    * spreads every hot key over R reducers while preserving the EXACT
    * join semantics: each probe row still meets exactly one copy of its
    * build row. AQE's skew-join split handles moderate skew at runtime;
    * explicit salting is the static insurance for extreme keys and for
    * skewed AGGREGATIONS the AQE splitter can't touch (its partial-agg
    * counterpart is the map-side combine every agg here already gets).
    * Cost: R× the build side (small by definition — it broadcasts or
    * shuffles R×|dim| rows), zero extra passes over the fact side.
    *
    * Oracle + spec prove the invariant that makes the trick safe: the
    * salted plan's result is bit-identical to the plain join's. */
  val x117: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("event_id"))
    val prof = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val salted = prof.withColumn("salt", explode(sequence(lit(0L), lit(saltR - 1))))
    val fact = ev.withColumn("salt", pmod(col("event_id"), lit(saltR)))
    fact.join(salted, Seq("user_id", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("n_events")).as("partner_weight"))
      .orderBy(col("event_type"))
  }

  /** x119 — entity canonicalization (E115): the entity-resolution endgame
    * composing the proven pieces — x96's complete distance≤1 candidate
    * pairs feed [[DedupQueries.connectedComponents]] (size-adaptive:
    * driver union-find under the edge threshold, distributed min-label +
    * path-halving past it), and each component becomes ONE canonical
    * entity: id = the component's min custkey (the min-label invariant
    * makes label == canonical id, no extra pass), canonical name = that
    * row's name. Output is the ≥2-member entity table (size, distinct
    * spellings, canonical name) — the survivorship table a master-data
    * pipeline publishes.
    *
    * 100 TB shape: the WHOLE pipeline stays at name granularity — the
    * same dedupe-then-expand that rewrote x96 applies a second time to
    * the clustering itself: components run over the distinct-NAME graph
    * (nodes = one per name, keyed by the name's min custkey so the
    * min-label invariant still yields the global min custkey as entity
    * id; edges = verified name pairs — at sf1 that's 15 k nodes / ~30 k
    * edges instead of 150 k nodes / 26.9 M id pairs, and the id-level
    * expansion never happens at all), and customers join their name's
    * label only in the final summary agg. The twin re-runs blocking +
    * exact verify + a recursive min-label reachability CTE — the
    * clustering itself is oracle-verified, not just the pair set.
    *
    * Measured pitfall, kept deliberately: the fixture's serial names
    * (Customer#000000000, …001, …) are pairwise distance-1 CHAINS, so
    * single-link transitive closure collapses the whole table into ONE
    * entity — the classic ER over-merge that production systems counter
    * with stronger pair scores or cannot-link constraints. The spec
    * asserts BOTH behaviors: the collapse on the fixture and correct
    * multi-cluster separation on a planted corpus. */
  val x119: Q = (s, d) => {
    val cust = t(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // node id of a name = its min custkey (unique per name, and the
    // min-label CC then emits the global min custkey as the cluster label)
    val nameIds = cust.groupBy(col("name")).agg(min(col("id")).as("nid"))
      .pin // r20 probe: 3 consumers (node set, edge join x2, mem)
    val edges = fuzzyNamePairs(s, d)
      .join(nameIds.select(col("name").as("a_name"), col("nid").as("a")), "a_name")
      .join(nameIds.select(col("name").as("b_name"), col("nid").as("b")), "b_name")
      .select(col("a"), col("b"))
    val lab = DedupQueries.connectedComponents(
      nameIds.select(col("nid").as("id")), edges)
    // left + coalesce: a name with no fuzzy neighbor is a singleton NODE
    // (connectedComponents omits it) but may still own ≥2 identical-name
    // customers — its label is its own nid
    val mem = cust.join(nameIds, "name")
      .join(lab.select(col("id").as("nid"), col("label")), Seq("nid"), "left")
      .withColumn("label", coalesce(col("label"), col("nid")))
    val summary = mem.groupBy(col("label"))
      .agg(count(lit(1)).as("size"), countDistinct(col("name")).as("n_names"))
      .filter(col("size") >= 2)
    summary
      .join(cust.select(col("id").as("label"), col("name").as("canonical_name")), "label")
      .select(col("label").as("entity_id"), col("size"), col("n_names"),
        col("canonical_name"))
      .orderBy(col("entity_id"))
  }

  /** x137 — scored entity resolution with cannot-link (E141): the standard
    * counter to x119's single-link over-merge (serial distance-1 names
    * chain into one entity). Every candidate pair gets a SCORE —
    * `2·(1 − lev) + [nation agrees] + [segment agrees]` — and only pairs
    * at score ≥ 2 become merge edges before connected components:
    * identical names always link (score ≥ 2 by the name term alone), but
    * a distance-1 name pair links ONLY when both profile fields agree, so
    * a chain step that crosses a nation or segment boundary is a
    * CANNOT-LINK and the chain breaks there (JoinSpec plants exactly that
    * chain and asserts it does NOT collapse, while x119 on the same data
    * does). This is Fellegi–Sunter-style pairwise scoring reduced to
    * deterministic integer arithmetic both engines replay exactly.
    *
    * 100 TB shape: inherits x96's candidate generation (deletion-
    * neighborhood blocking over DISTINCT names — never N²), but builds
    * the CC edge set WITHOUT materializing the pairwise edges, which are
    * quadratic in the per-name duplicate count (a 100-way duplicate
    * flood — /tmp/sf10 — turns 15k names into ~74M clique edges and
    * killed the sf10 bench run with spill): the score decomposes by
    * distance, so (a) identical names ALWAYS link (2·(1−0) ≥ 2 whatever
    * the fields) — a star from each name's min id reaches the exact same
    * components as the C(k,2) clique with k−1 edges; (b) a distance-1
    * name pair links iff SOME id pair shares nation AND segment
    * (0+1+1 ≥ 2), and since each name is already one component via its
    * star, ONE rep-to-rep edge per linking name pair merges exactly what
    * the full pairwise edge set would — decided on the distinct
    * (name, nat, seg) level, never id×id. Components (and so the output)
    * are provably identical to pairwise scoring; the twin still scores
    * PAIRWISE and hash equality is the proof. Edges at threshold feed
    * the same size-adaptive CC as x119. */
  val x137: Q = (s, d) => {
    val cust = t(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"))
    val nameRep = cust.groupBy(col("name")).agg(min(col("id")).as("rep"))
    // (a) identical-name stars: same components as the per-name clique
    val stars = cust.join(nameRep, "name").filter(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"))
    // (b) distance-1 name pairs that contain at least one both-fields-agree
    // id pair, decided on distinct (name, nat, seg) triples
    val fieldSets = cust.select(col("name"), col("nat"), col("seg")).distinct()
    val d1Edges = fuzzyNamePairs(s, d)
      .join(fieldSets.select(col("name").as("a_name"), col("nat"), col("seg")), "a_name")
      .join(fieldSets.select(col("name").as("b_name"), col("nat"), col("seg")),
        Seq("b_name", "nat", "seg"))
      .select(col("a_name"), col("b_name")).distinct()
      .join(nameRep.select(col("name").as("a_name"), col("rep").as("a")), "a_name")
      .join(nameRep.select(col("name").as("b_name"), col("rep").as("b")), "b_name")
      .select(col("a"), col("b"))
    val edges = stars.unionAll(d1Edges)
    val lab = DedupQueries.connectedComponents(cust.select(col("id")), edges)
    val mem = cust
      .join(lab.select(col("id"), col("label")), Seq("id"), "left")
      .withColumn("label", coalesce(col("label"), col("id")))
    mem.groupBy(col("label"))
      .agg(count(lit(1)).as("size"), countDistinct(col("name")).as("n_names"),
        countDistinct(col("nat")).as("n_nations"))
      .filter(col("size") >= 2)
      .join(cust.select(col("id").as("label"), col("name").as("canonical_name")), "label")
      .select(col("label").as("entity_id"), col("size"), col("n_names"),
        col("n_nations"), col("canonical_name"))
      .orderBy(col("entity_id"))
  }

  val queries: Map[String, Q] = Map(
    "x106_merge_upsert" -> x106,
    "x110_interval_join" -> x110,
    "x117_salted_join" -> x117,
    "x119_entity_resolution" -> x119,
    "x137_scored_entity_resolution" -> x137,
    "q10_inner_join" -> q10,
    "q11_broadcast_chain" -> q11,
    "q12_left_outer" -> q12,
    "q13_semi_join" -> q13,
    "q14_anti_join" -> q14,
    "q15_range_join" -> q15,
    "x96_fuzzy_match" -> x96)

  val oracles: Map[String, String] = Map(
    // The twin is the DECLARATIVE inequality join (DuckDB's optimizer
    // picks IEJoin); the Spark side's bucket decomposition must produce
    // the identical pair set — that equivalence is what the oracle checks.
    "x110_interval_join" ->
      """WITH iv AS (
        |  SELECT CAST(l_shipdate AS DATE) - DATE '1992-01-01' AS sdn,
        |    CAST(l_shipdate AS DATE) - DATE '1992-01-01'
        |      + 1 + (l_orderkey * 7 + l_linenumber) % 30 AS rdn,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |p AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS pd,
        |        CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS pdn
        |      FROM orders)
        |SELECT pd AS probe_date, COUNT(*) AS n_transit,
        |  CAST(SUM(qty) AS BIGINT) AS qty_transit
        |FROM p JOIN iv ON sdn <= pdn AND pdn < rdn
        |GROUP BY pd ORDER BY pd""".stripMargin,
    "x106_merge_upsert" ->
      """WITH chg AS (
        |  SELECT c_custkey AS k, c_name AS u_name, c_nationkey AS u_nat,
        |         c_acctbal + 100.0 AS u_bal, c_mktsegment AS u_seg, 'U' AS op
        |  FROM customer WHERE c_custkey % 10 = 0 AND NOT c_custkey % 17 = 3
        |  UNION ALL
        |  SELECT c_custkey, NULL, NULL, NULL, NULL, 'D'
        |  FROM customer WHERE c_custkey % 17 = 3
        |  UNION ALL
        |  SELECT mx + i, 'Customer#new-' || CAST(i AS VARCHAR), CAST(i % 25 AS INT),
        |         i * 10.0, 'AUTOMOBILE', 'I'
        |  FROM (SELECT MAX(c_custkey) AS mx FROM customer),
        |       (SELECT unnest(range(1, 21)) AS i))
        |SELECT COALESCE(c.c_custkey, g.k) AS c_custkey,
        |  CASE WHEN g.op IS NOT NULL THEN g.u_name ELSE c.c_name END AS c_name,
        |  CASE WHEN g.op IS NOT NULL THEN g.u_nat ELSE c.c_nationkey END AS c_nationkey,
        |  floor((CASE WHEN g.op IS NOT NULL THEN g.u_bal ELSE c.c_acctbal END)
        |        * 100.0 + 0.5) / 100.0 AS c_acctbal,
        |  CASE WHEN g.op IS NOT NULL THEN g.u_seg ELSE c.c_mktsegment END AS c_mktsegment
        |FROM customer c FULL OUTER JOIN chg g ON g.k = c.c_custkey
        |WHERE g.op IS NULL OR g.op <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    // The twin replays the SAME deletion-neighborhood blocking (so it runs
    // at sf1 where the quadratic form cannot) + the same exact levenshtein
    // verify; blocking internals need not match cross-engine — both are
    // complete for distance ≤ 1, so the verified PAIR SET is identical.
    "x96_fuzzy_match" ->
      s"""WITH $fuzzyPairCtes
         |SELECT a_id, b_id, CAST(levenshtein(an, bn) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(an, bn) <= 1
         |ORDER BY a_id, b_id""".stripMargin,
    "x117_salted_join" ->
      """SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(p.n_events) AS BIGINT) AS partner_weight
        |FROM events e
        |JOIN (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1) p
        |  USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // NAME-level blocking + the x44-style recursive min-label reachability
    // — the CLUSTERING is verified, not just the pairs. Two boundedness
    // moves vs the id-level full-seed formulation that stopped terminating
    // at sf0.1 (>580 s): (1) the recursion runs over DISTINCT-NAME nodes
    // exactly like the Spark side's nameIds design, so duplicate floods
    // don't multiply reach rows; (2) only LOCAL MINIMA seed the flood —
    // a node with no smaller neighbor. Every component's global min IS a
    // local min and reaches every member, every received label is ≥ it,
    // so MIN(l) per node is unchanged — but accumulated (v, l) rows drop
    // from Σ comp² (every node's label floods everywhere: 2.25e8 at
    // sf0.1's one 15k-name component) to Σ comp×|locmin| ≈ n
    // (measured 580 s → 2.7 s at sf0.1, hash-identical output).
    "x119_entity_resolution" ->
      """WITH RECURSIVE
         |c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
         |nameids AS (SELECT name, MIN(id) AS nid FROM c GROUP BY name),
         |nsigs AS (
         |  SELECT name, nid, unnest(list_distinct(list_append(
         |    list_transform(range(1, len(name) + 1),
         |      p -> substr(name, 1, p - 1) || substr(name, p + 1)), name))) AS sig
         |  FROM nameids),
         |npr AS (
         |  SELECT DISTINCT a.nid AS a_nid, b.nid AS b_nid
         |  FROM nsigs a JOIN nsigs b ON a.sig = b.sig AND a.name < b.name
         |  WHERE levenshtein(a.name, b.name) <= 1),
         |edges AS (SELECT a_nid AS a, b_nid AS b FROM npr
         |          UNION SELECT b_nid, a_nid FROM npr),
         |locmin AS (SELECT n.nid FROM nameids n WHERE NOT EXISTS (
         |  SELECT 1 FROM edges e WHERE e.a = n.nid AND e.b < n.nid)),
         |reach(v, l) AS (
         |  SELECT nid, nid FROM locmin
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v),
         |lab AS (SELECT v AS nid, MIN(l) AS label FROM reach GROUP BY v),
         |mem AS (SELECT c.id, c.name, lab.label
         |        FROM c JOIN nameids n ON n.name = c.name
         |        JOIN lab ON lab.nid = n.nid),
         |summ AS (
         |  SELECT label, COUNT(*) AS size, COUNT(DISTINCT name) AS n_names
         |  FROM mem GROUP BY 1 HAVING COUNT(*) >= 2)
         |SELECT s.label AS entity_id, s.size, s.n_names,
         |  c.name AS canonical_name
         |FROM summ s JOIN c ON c.id = s.label
         |ORDER BY entity_id""".stripMargin,
    // GENERATED x137 twin: the same candidate CTEs with FIELDS, the
    // identical integer pair score + cannot-link threshold, then the
    // recursive-CTE CC over the surviving edges only.
    "x137_scored_entity_resolution" ->
      s"""WITH RECURSIVE
         |cf AS (SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
         |         c_mktsegment AS seg FROM customer),
         |c AS (SELECT id, name FROM cf),
         |sigs AS (
         |  SELECT id, name, unnest(list_distinct(list_append(
         |    list_transform(range(1, len(name) + 1),
         |      p -> substr(name, 1, p - 1) || substr(name, p + 1)), name))) AS sig
         |  FROM c),
         |cand AS (
         |  SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.name AS an, b.name AS bn
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.id < b.id),
         |pr AS (
         |  SELECT cd.a_id, cd.b_id
         |  FROM cand cd JOIN cf fa ON fa.id = cd.a_id JOIN cf fb ON fb.id = cd.b_id
         |  WHERE levenshtein(cd.an, cd.bn) <= 1
         |    AND 2 * (1 - levenshtein(cd.an, cd.bn))
         |        + (CASE WHEN fa.nat = fb.nat THEN 1 ELSE 0 END)
         |        + (CASE WHEN fa.seg = fb.seg THEN 1 ELSE 0 END) >= 2),
         |edges AS (SELECT a_id AS a, b_id AS b FROM pr
         |          UNION SELECT b_id, a_id FROM pr),
         |locmin AS (SELECT c.id FROM c WHERE NOT EXISTS (
         |  SELECT 1 FROM edges e WHERE e.a = c.id AND e.b < c.id)),
         |reach(v, l) AS (
         |  SELECT id, id FROM locmin
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v),
         |lab AS (SELECT v AS id, MIN(l) AS label FROM reach GROUP BY v),
         |summ AS (
         |  SELECT l.label, COUNT(*) AS size, COUNT(DISTINCT cf.name) AS n_names,
         |    COUNT(DISTINCT cf.nat) AS n_nations
         |  FROM lab l JOIN cf ON cf.id = l.id
         |  GROUP BY 1 HAVING COUNT(*) >= 2)
         |SELECT s.label AS entity_id, s.size, s.n_names, s.n_nations,
         |  c.name AS canonical_name
         |FROM summ s JOIN c ON c.id = s.label
         |ORDER BY entity_id""".stripMargin,
    "q10_inner_join" ->
      """SELECT c_mktsegment, COUNT(*) AS c,
        |ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE),2) AS s
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q11_broadcast_chain" ->
      """SELECT r_name, COUNT(*) AS c FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q12_left_outer" ->
      """SELECT c_mktsegment, COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_orders,
        |CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_order
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q13_semi_join" ->
      """SELECT COUNT(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q14_anti_join" ->
      """SELECT COUNT(*) AS n FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""".stripMargin,
    "q15_range_join" ->
      """SELECT COUNT(*) AS n FROM lineitem l JOIN orders o
        |ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate""".stripMargin)
}
