package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.Tables.PinOps

/** Batch-replay oracle twins for the streaming curation ops (VERDICT r10
  * #7): E84 (streaming near-dup flagging) and E85 (streaming heavy
  * hitters) carry planted StreamingSpec tests, but their per-batch
  * DECOMPOSITION was not oracle-checked. These keys replay the identical
  * decomposition in batch mode — documents split into `nReplayBatches`
  * deterministic micro-batches by `doc_id % B` (arrival order) — running
  * the SAME operator chain the foreachBatch body runs
  * ([[graft.streaming.StreamOps.flagNearDups]], the MG sketch + exact
  * verify), so DuckDB can hash-check what each trigger would have
  * emitted.
  *
  * Scale note: each replayed trigger is the streaming op's own plan —
  * x135's band join keeps the micro-batch as the small side against the
  * standing-corpus bands, x136's verify is a ≤k-candidate exact count —
  * so the replay inherits the 100 TB posture of the ops it checks. */
object StreamReplayQueries {
  type Q = (SparkSession, String) => DataFrame

  private val nReplayBatches = 3
  /** Same default τ as the streaming op. */
  private val tau = 0.5

  /** x135 — E84's decomposition: for each arriving batch b ∈ {1,2}, flag
    * its near-dups against the standing corpus (batches < b) via the
    * exact streaming chain. Union over triggers = all flagged pairs where
    * batch(doc) > batch(corpus doc) — which is what the twin states
    * declaratively in one banded join.
    *
    * r19 (optimization, guide §2.4): shingles and MinHash bands are
    * per-document and batch-independent, so the replay computes them ONCE
    * over the corpus (checkpoint-materialized) and each trigger filters
    * its batch/corpus views out of the shared frames — per-trigger chain
    * (band equi-join → distinct candidates → exact-jaccard verify)
    * unchanged, per-pair arithmetic identical to
    * [[graft.streaming.StreamOps.flagNearDups]] (StreamReplaySpec still
    * matches the real stream per trigger). The lazy spelling re-ran
    * tokenize+shingle+MinHash up to 8× (2 triggers × {band, verify} × 2
    * sides); this mirrors the standing banded corpus index the production
    * stream keeps rather than rebuilding it per trigger. */
  val x135: Q = (s, d) => {
    import graft.operators.DedupQueries
    // r20 (guide §2.4 — sf10 scale gate): the doc-level band join is
    // quadratic in the per-set duplicate count — the 100-way verbatim dup
    // flood of the sf10 dataset made candidates O(dup²) and the key blew
    // its 300 s watchdog. Same fix as x41 (commit b761ebe): collapse
    // identical shingle SETS first — minhash signatures, band hashes and
    // jaccard are all functions of the SET — run band join + exact verify
    // at REP level, then expand loss-free: within-set pairs are J = 1 by
    // identity, cross-set pairs inherit the rep pair's jaccard, and the
    // trigger structure (doc's batch > corpus doc's batch, batch_id =
    // doc's batch) is re-applied on the members' batch columns. Output
    // rows identical (expansion emits each ordered pair exactly once; a
    // pair's group assignment is a function of its docs).
    val sh0 = t(s, d, "documents")
      .select(col("doc_id"), pmod(col("doc_id"), lit(nReplayBatches)).as("bat"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("bat"),
        array_distinct(DedupQueries.shingles3(col("toks"))).as("sh"))
    // canonical set key = sorted array (array_distinct is first-seen order,
    // so permuted duplicates still collapse); set-based J/bands unchanged
    val groups = sh0
      .groupBy(sort_array(col("sh")).as("sh"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("bat")))).as("mems"))
      .withColumn("rep", col("mems").getItem(0).getField("doc_id"))
      .pin
    val mem = groups.select(col("rep"), explode(col("mems")).as("m"))
      .select(col("rep"), col("m.doc_id").as("id"), col("m.bat").as("bat"))
    val reps = groups
      .select(col("rep"), col("sh"),
        graft.functions.VectorExprs.minHashSigs(col("sh"), 32).as("sigs"))
      .pin
    val bands = reps
      .select(col("rep"), explode(DedupQueries.bandsFromSigs(col("sigs"), 8, 4)).as("b"))
      .select(col("rep"), col("b.band_id"), col("b.band_hash"))
      .pin
    // unordered cross-set candidate rep pairs sharing ≥1 band (identical
    // sets share ALL bands, so doc-level candidacy survives rep-level)
    val cand = bands.select(col("rep").as("ra"), col("band_id"), col("band_hash"))
      .join(bands.select(col("rep").as("rb"), col("band_id"), col("band_hash")),
        Seq("band_id", "band_hash"))
      .filter(col("ra") < col("rb"))
      .select(col("ra"), col("rb")).distinct()
    val verified = cand
      .join(reps.select(col("rep").as("ra"), col("sh").as("sh_a")), "ra")
      .join(reps.select(col("rep").as("rb"), col("sh").as("sh_b")), "rb")
      .select(col("ra"), col("rb"),
        graft.Tables.fround(size(array_intersect(col("sh_a"), col("sh_b")))
          / size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= tau)
    // expand: both orientations of each verified rep pair, members joined
    // back, trigger rule bat(doc) > bat(corpus doc)
    val vboth = verified
      .unionAll(verified.select(col("rb").as("ra"), col("ra").as("rb"), col("jaccard")))
    val cross = vboth
      .join(mem.select(col("rep").as("ra"), col("id").as("doc_id"), col("bat").as("ba")), "ra")
      .join(mem.select(col("rep").as("rb"), col("id").as("c_id"), col("bat").as("bc")), "rb")
      .filter(col("ba") > col("bc"))
      .select(col("ba").as("batch_id"), col("doc_id"), col("c_id"), col("jaccard"))
    // within-set pairs: identical shingle sets ⇒ jaccard exactly 1.0
    // (fround(1.0, 4) = 1.0), always ≥ τ, always banded together
    val within = mem.select(col("rep"), col("id").as("doc_id"), col("bat").as("ba"))
      .join(mem.select(col("rep"), col("id").as("c_id"), col("bat").as("bc")), "rep")
      .filter(col("ba") > col("bc"))
      .select(col("ba").as("batch_id"), col("doc_id"), col("c_id"),
        lit(1.0).as("jaccard"))
    cross.unionAll(within)
      .select(col("batch_id"), col("doc_id"), col("c_id"), col("jaccard"))
      .orderBy(col("batch_id"), col("doc_id"), desc("jaccard"), col("c_id"))
  }

  /** x136 — E85's decomposition: after each trigger b, the streaming op's
    * complete-mode output is (MG candidates, running total) over the
    * accumulated prefix; the exact-verify half counts only the ≤k
    * candidates and thresholds at total/k. That verified output is EXACT
    * heavy hitters of the prefix — deterministic whatever merge order the
    * state-store fold used (the MG guarantee: every key above total/k
    * survives any fold), which is exactly why DuckDB can check it with a
    * plain per-prefix frequency query. */
  val x136: Q = (s, d) => {
    import s.implicits._
    val docs = t(s, d, "documents")
    // r19 (guide §2.4): tokenize ONCE (checkpointed, batch id attached) —
    // each trigger's sketch action AND exact-verify agg re-ran the
    // tokenize over its whole prefix (6 corpus-scale evals for 3
    // triggers); now both filter the shared frame.
    val toksAll = graft.Tables.spread(docs)
      .select(pmod(col("doc_id"), lit(nReplayBatches)).as("bat"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("bat"), col("tok"), xxhash64(col("tok")).as("gh"))
      .pin
    val perTrigger = (0 until nReplayBatches).map { b =>
      val toks = toksAll.filter(col("bat") <= b).select(col("tok"), col("gh"))
      val head = toks.agg(UdfQueries.mgUdaf(col("gh")).as("cands"),
        count(lit(1)).as("total")).head
      val cands = head.getSeq[Long](0) // ≤k by the sketch bound
      val total = head.getLong(1)
      toks.filter(col("gh").isin(cands: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") > lit(total) / lit(UdfQueries.hhK.toDouble))
        .select(lit(b.toLong).as("batch_id"), col("tok"), col("n_occ"),
          graft.Tables.fround(col("n_occ") / lit(total.toDouble), 6).as("freq"))
    }
    perTrigger.reduce(_ unionAll _)
      .orderBy(col("batch_id"), desc("n_occ"), col("tok"))
  }

  /** x176 — E68's decomposition (streaming curation stage): the map-only
    * gate + PII scrub half runs VERBATIM ([[graft.streaming.StreamOps
    * .curateGateScrub]] — per-row expressions, so per-batch ≡ whole-frame),
    * and the E27c canonical dedup's first-arrival-wins state is made
    * explicit: under the deterministic arrival order (batch_id, doc_id),
    * the kept copy per canon key is exactly `row_number() over (partition
    * by canon_h order by batch_id, doc_id) = 1` — what
    * dropDuplicatesWithinWatermark emits trigger by trigger (StreamingSpec
    * pins the cross-batch keep behavior; this key hash-checks the full
    * gate → scrub → canon-key chain per emitted doc). */
  val x176: Q = (s, d) =>
    curateReplay(t(s, d, "documents"), nReplayBatches)
      .orderBy(col("batch_id"), col("doc_id"))

  /** The E68 replay chain over any docs frame (doc_id, lang, text) —
    * shared with StreamReplaySpec, which drives PLANTED cross-batch
    * canonical variants through both this decomposition and the real
    * streamed [[graft.streaming.StreamOps.curateDocs]] and asserts the
    * per-trigger emissions match. */
  private[graft] def curateReplay(docs: DataFrame, nBatches: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val batched = docs
      .withColumn("batch_id", pmod(col("doc_id"), lit(nBatches.toLong)))
    val gated = graft.streaming.StreamOps.curateGateScrub(batched)
      .withColumn("canon_h", graft.streaming.StreamOps.canonKey(col("text")))
    val w = Window.partitionBy(col("canon_h")).orderBy(col("batch_id"), col("doc_id"))
    gated.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("batch_id"), col("doc_id"), col("lang"), col("n_chars"),
        col("canon_h"))
  }

  /** x177 — E70's decomposition (stream-static DSIR enrichment): fit the
    * 256-row bucket-ratio model ONCE over the corpus (the static side a
    * production stream broadcasts per trigger), then run the scoring chain
    * per micro-batch through [[graft.streaming.StreamOps.scoreDocsDsir]].
    * Scoring is per-doc (explode → broadcast join → per-doc agg), so each
    * trigger's emission is exactly its docs' x59 rows — which is the
    * stream-equals-batch property StreamingSpec asserts and this key
    * hash-checks against the twin's refit. */
  val x177: Q = (s, d) => {
    val docs = graft.Tables.spread(t(s, d, "documents"))
    // the session-cached fit (r17): the static side is fit ONCE per
    // (session, corpus) — three triggers must not pay three corpus-wide
    // refit scans the production stream would never run
    val ratio = LmQueries.dsirRatioCached(s, d)
    (0 until nReplayBatches).map { b =>
      graft.streaming.StreamOps.scoreDocsDsir(
          docs.filter(pmod(col("doc_id"), lit(nReplayBatches.toLong)) === b), ratio)
        .select(lit(b.toLong).as("batch_id"), col("doc_id"), col("source"),
          col("n_toks"), col("imp_weight"))
    }.reduce(_ unionAll _).orderBy(col("batch_id"), col("doc_id"))
  }

  /** The x178 CDC universe: orders keys ≡0 (mod 10) as (key, price-cents).
    * Cents are the exact fix-point both engines floor identically. */
  private def cdcUniverse(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("c"))

  /** x178 — E102's decomposition (streaming CDC apply): three deterministic
    * change batches derived from the orders snapshot (key-mod classes, the
    * x106/x109 convention) each run through the trigger body's own
    * [[graft.streaming.StreamOps.cdcLatestWins]] (latest-wins per key by
    * the event-seq column, upsert/tombstone split). Emission contract
    * (r17, VERDICT r16 #5 — what a real CDC sink writes, and what
    * x109/x179 already model): per trigger the APPLIED CHANGE SET —
    * op='U' upserts with the winning value, op='D' tombstones (c=0) —
    * then ONE final full visible state (batch_id=B+1, op='S') computed as
    * the global argmax per key over seed ∪ changes, the same closed form
    * the sequential mergeIntoMor fold reaches by induction (the
    * file-layer equivalence MaintenanceSpec asserts; StreamReplaySpec
    * proves the fold ≡ the live cdcApply MOR state per trigger). The old
    * contract re-emitted the FULL state after every trigger — three
    * full-state folds and checkpoints where the streaming op itself pays
    * only O(|batch|) per trigger, a 12×@sf0.1 oracle artifact, not a
    * property of E102. The twin still hash-checks in-batch latest-wins,
    * upsert-over-upsert, tombstone, and delete-then-recreate: the first
    * via each trigger's delta rows, the rest via the final state.
    *
    * The change set exercises every CDC shape: batch 1 updates (k≡0 mod
    * 30), DOUBLE-updates the same key in-batch (k≡10, seq 1 then 2 — the
    * latest must win), inserts 20 beyond-max keys; batch 2 deletes the
    * batch-1-updated keys, updates k≡20, tombstones the odd inserts;
    * batch 3 re-updates half the batch-2 updates (k≡20 mod 60), RECREATES
    * deleted keys (k≡0 mod 90), and deletes the in-batch-winner keys.
    *
    * Scale note: the replay's per-trigger state dump recomputes the fold
    * lineage (an oracle artifact); the streaming op itself pays O(|batch|)
    * per trigger — MOR appends + equality deletes, never a state rescan. */
  val x178: Q = (s, d) => {
    import graft.streaming.StreamOps
    val u = cdcUniverse(s, d)
    def chg(pred: org.apache.spark.sql.Column, cExpr: org.apache.spark.sql.Column,
        op: String, seq: Int): DataFrame =
      u.filter(pred).select(col("k"), cExpr.as("c"), lit(op).as("op"),
        lit(seq.toLong).as("seq"))
    val insKeys = u.agg(max(col("k")).as("mx"))
      .select(explode(sequence(lit(1L), lit(20L))).as("i"), col("mx"))
      .select((col("mx") + col("i")).as("k"), col("i"))
    val b1 = chg(col("k") % 30 === 0, col("c") + 1000L, "U", 1)
      .unionAll(chg(col("k") % 30 === 10, col("c") + 100L, "U", 1))
      .unionAll(chg(col("k") % 30 === 10, col("c") + 200L, "U", 2))
      .unionAll(insKeys.select(col("k"), (col("i") * 777L).as("c"),
        lit("I").as("op"), lit(1L).as("seq")))
    val b2 = chg(col("k") % 30 === 0, lit(0L), "D", 1)
      .unionAll(chg(col("k") % 30 === 20, col("c") + 3000L, "U", 1))
      .unionAll(insKeys.filter(col("i") % 2 === 1).select(col("k"),
        lit(0L).as("c"), lit("D").as("op"), lit(1L).as("seq")))
    val b3 = chg(col("k") % 60 === 20, col("c") + 4000L, "U", 1)
      .unionAll(chg(col("k") % 90 === 0, col("c") + 9000L, "U", 1))
      .unionAll(chg(col("k") % 30 === 10, lit(0L), "D", 1))
    // per-trigger delta emissions: exactly the change set cdcApply writes
    // (each batch independent — no sequential fold, no checkpoints)
    val deltas = Seq(b1, b2, b3).zipWithIndex.map { case (bdf, i) =>
      val (ups, tombs) = StreamOps.cdcLatestWins(bdf, "k", "seq", "op")
      ups.select(lit((i + 1).toLong).as("batch_id"), col("k"), col("c"),
          lit("U").as("op"))
        .unionAll(tombs.select(lit((i + 1).toLong).as("batch_id"), col("k"),
          lit(0L).as("c"), lit("D").as("op")))
    }.reduce(_ unionAll _)
    // final visible state in ONE pass: global argmax per key over
    // seed ∪ changes (ties impossible: bid distinguishes batches, seq is
    // unique per key within each batch by construction)
    val all = Seq(b1, b2, b3).zipWithIndex.map { case (bdf, i) =>
        bdf.select(col("k"), col("c"), col("op"),
          lit((i + 1).toLong).as("bid"), col("seq"))
      }.reduce(_ unionAll _)
      .unionAll(u.select(col("k"), col("c"), lit("I").as("op"),
        lit(0L).as("bid"), lit(0L).as("seq")))
    // r19 (guide §2.3): the per-key latest-wins pick was a row_number
    // window (full sort of seed ∪ changes); max(struct(bid, seq, c, op))
    // is the identical pick — (bid, seq) is unique per key by
    // construction (the comment above), so the trailing fields never
    // break a tie — and runs as a map-side-combined hash agg.
    val fin = all
      .groupBy(col("k"))
      .agg(max(struct(col("bid"), col("seq"), col("c"), col("op"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(lit((nReplayBatches + 1).toLong).as("batch_id"), col("k"),
        col("m.c").as("c"), lit("S").as("op"))
    deltas.unionAll(fin).orderBy(col("batch_id"), col("k"))
  }

  /** x179 — E117's decomposition (streaming view maintenance): the x109
    * delta batches ([[IvmQueries.ivmDeltaBatches]] — base-as-deltas seed,
    * change deltas, inserts) fold through the streaming agg
    * [[graft.streaming.StreamOps.maintainAggView]]; complete-mode output
    * after trigger b equals the agg over the delta PREFIX (sum's merge is
    * associative-commutative — the same reason the state-store fold is
    * deterministic), which is what the twin states per prefix. Consumers
    * filter n > 0 (a group deleted to zero vanishes, the x109 contract). */
  val x179: Q = (s, d) => {
    val batches = IvmQueries.ivmDeltaBatches(s, d)
    // Fail LOUDLY if the delta-batch count ever drifts from the constant
    // the DuckDB twin's range() is built on (r17, ADVICE): adding a batch
    // to ivmDeltaBatches without this assert would surface as a confusing
    // hash mismatch instead of a clear contract error.
    require(batches.size == nReplayBatches,
      s"x179 replay/oracle desync: ivmDeltaBatches=${batches.size} != nReplayBatches=$nReplayBatches")
    (0 until batches.size).map { b =>
      graft.streaming.StreamOps.maintainAggView(
          batches.take(b + 1).reduce(_ unionAll _))
        .filter(col("n_orders") > 0)
        .select(lit(b.toLong).as("batch_id"), col("g").as("o_orderpriority"),
          col("n_orders"), graft.Tables.fround(col("sc") / 100.0, 2).as("sum_price"))
    }.reduce(_ unionAll _).orderBy(col("batch_id"), col("o_orderpriority"))
  }

  /** x180 — E118's decomposition (streaming drift monitor): the baseline
    * histogram (full-table l_quantity over 8 bins — "yesterday's
    * persisted x102 audit row") is static; each micro-batch (l_orderkey
    * mod 3; batch 2 additionally hit by x116's drifted-snapshot predicate,
    * which guts the upper quantity bins, so the monitor must FLAG it)
    * runs VERBATIM through
    * [[graft.streaming.StreamOps.driftTvd]]. The bounds collect is 2
    * doubles (model-bounded, the centroidSeeds precedent). */
  val x180: Q = (s, d) => {
    val li = t(s, d, "lineitem")
    val nBins = 8
    val b = li.agg(min(col("l_quantity")), max(col("l_quantity"))).head
    val (mn, mx) = (b.getDouble(0), b.getDouble(1))
    val binc = least(floor((col("l_quantity") - mn) * nBins / (mx - mn)),
      lit(nBins - 1L))
    val h = li.where(col("l_quantity").isNotNull)
      .select(binc.as("bin")).groupBy(col("bin")).agg(count(lit(1)).as("na"))
    val baseline = s.range(0, nBins).toDF("bin")
      .join(h, Seq("bin"), "left")
      .crossJoin(broadcast(h.agg(sum(col("na")).as("ta")))) // 1-row global agg
      .select(col("bin"), (coalesce(col("na"), lit(0L)) / col("ta")).as("pb"))
    (0 until nReplayBatches).map { i =>
      val batch = li.filter(col("l_orderkey") % nReplayBatches === i &&
        (if (i == nReplayBatches - 1) expr(IvmQueries.driftPred) else lit(true)))
      graft.streaming.StreamOps.driftTvd(
          batch.select(col("l_quantity").as("v")), baseline, mn, mx, nBins)
        .select(lit(i.toLong).as("batch_id"), col("n"), col("tvd"), col("drifted"))
    }.reduce(_ unionAll _).orderBy(col("batch_id"))
  }

  /** x183 — E26/E27's decomposition (watermark late-drop + cross-batch
    * streaming dedup), the last spec-only streaming semantics promoted to
    * a replay oracle (VERDICT r18 #3). Arrival order is DEFINED
    * deterministically: base batch = which third of the event month the
    * row's EVENT TIME falls in (fixed calendar boundaries — no
    * engine-ordering dependence), and every 17th event is a STRAGGLER
    * arriving one batch after its time cohort (the out-of-order tail a
    * real stream has). The watermark before trigger b is
    * max(ts over batches < b) − 120 min (Spark advances the watermark at
    * the END of each micro-batch); a row behind it is late-DROPPED BEFORE
    * dedup — `dropDuplicatesWithinWatermark`'s contract, so a late first
    * occurrence never creates state and a later on-time duplicate of it
    * EMITS. Dedup key = event_id div 10.
    *
    * Why "global first non-late arrival wins" is exact here (not an
    * approximation of the real op's state expiry): event_id is
    * time-ordered in this corpus, so a dk group spans ≤94 min of event
    * time — strictly less than the 120-min delay. State for a key's first
    * occurrence p is evicted only when the watermark passes p.ts + delay;
    * for any later group member r that is not late, the prior-batch max M
    * satisfies M ≤ r.ts + delay ≤ p.ts + span + delay < p.ts + 2·delay,
    * hence W = M − delay < p.ts + delay — the state is provably still
    * alive. span < delay is the whole proof; StreamReplaySpec drives
    * planted stragglers through the REAL dropDuplicatesWithinWatermark
    * stream and asserts per-trigger emissions equal this decomposition
    * (including the late-first-occurrence-then-emit case).
    *
    * Scale note: one pass over events joined to a broadcast nBatches-row
    * watermark frame; the dedup rank partitions by dk (bounded groups).
    * The streamed op's state is watermark-bounded by the same horizon. */
  val x183: Q = (s, d) => {
    val nb = least(expr("(day(ts) - 1) div 10"), lit(2L))
    val arr = t(s, d, "events").select(col("event_id"), col("ts"),
      when(col("event_id") % 17 === 0, least(nb + 1, lit(2L)))
        .otherwise(nb).as("batch_id"),
      expr("event_id div 10").as("dk"))
    lateDropReplay(arr, 120).orderBy(col("batch_id"), col("event_id"))
  }

  /** The E26/E27 replay chain over any (event_id, ts, batch_id, dk) frame
    * — shared with StreamReplaySpec's planted cross-check. Emits every
    * arriving row's disposition: 'late' (behind the watermark set by prior
    * triggers), 'emit' (first surviving arrival of its dk), 'dup'. */
  private[graft] def lateDropReplay(arr: DataFrame, delayMin: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // W(b) = max(ts | batch < b) − delay. The running-prior-max window is
    // over the per-batch agg frame (nBatches rows), not the data.
    val wmW = Window.orderBy(col("batch_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = arr.groupBy(col("batch_id")).agg(max(col("ts")).as("mx"))
      .select(col("batch_id"),
        (max(col("mx")).over(wmW) - expr(s"interval $delayMin minutes")).as("w"))
    val lab = arr.join(broadcast(wm), Seq("batch_id"), "left")
      .withColumn("is_late", col("w").isNotNull && col("ts") < col("w"))
    // r19 (guide §2.4): the survivor rank needs no filter + row_number +
    // join-back — a RUNNING COUNT of non-late rows over the same (dk,
    // arrival-order) window gives each non-late row its rank among
    // survivors directly (rs == 1 ⇔ rn == 1; (batch_id, event_id) is a
    // total order per dk so the frame is deterministic). One window, one
    // pass, the events-sized self-join gone.
    val cw = Window.partitionBy(col("dk"))
      .orderBy(col("batch_id"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    lab
      .withColumn("rs", sum(when(col("is_late"), 0L).otherwise(1L)).over(cw))
      .select(col("batch_id"), col("event_id"), col("dk"),
        when(col("is_late"), lit("late"))
          .when(col("rs") === 1, lit("emit"))
          .otherwise(lit("dup")).as("disposition"))
  }

  val queries: Map[String, Q] = Map(
    "x183_stream_late_drop" -> x183,
    "x135_stream_neardup_replay" -> x135,
    "x136_stream_hh_replay" -> x136,
    "x176_stream_curate_replay" -> x176,
    "x177_stream_dsir_replay" -> x177,
    "x178_stream_cdc_replay" -> x178,
    "x179_stream_ivm_replay" -> x179,
    "x180_stream_drift_replay" -> x180)

  val oracles: Map[String, String] = Map(
    // GENERATED twin of the E26/E27 chain: identical arrival assignment
    // (month-third base batch + every-17th straggler), identical
    // prior-batch-max watermark, identical first-non-late-arrival dedup.
    "x183_stream_late_drop" ->
      """WITH arr AS (
        |  SELECT event_id, ts,
        |    CAST(CASE WHEN event_id % 17 = 0
        |         THEN least(least((day(ts) - 1) // 10, 2) + 1, 2)
        |         ELSE least((day(ts) - 1) // 10, 2) END AS BIGINT) AS batch_id,
        |    event_id // 10 AS dk
        |  FROM events),
        |pb AS (SELECT batch_id, max(ts) AS mx FROM arr GROUP BY batch_id),
        |wm AS (SELECT batch_id,
        |         max(mx) OVER (ORDER BY batch_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           - INTERVAL 120 MINUTE AS w
        |       FROM pb),
        |lab AS (SELECT a.batch_id, a.event_id, a.dk, a.ts,
        |         (w.w IS NOT NULL AND a.ts < w.w) AS is_late
        |        FROM arr a JOIN wm w ON w.batch_id = a.batch_id),
        |sur AS (SELECT event_id,
        |          ROW_NUMBER() OVER (PARTITION BY dk ORDER BY batch_id, event_id) AS rn
        |        FROM lab WHERE NOT is_late)
        |SELECT l.batch_id, l.event_id, l.dk,
        |  CASE WHEN l.is_late THEN 'late'
        |       WHEN s.rn = 1 THEN 'emit' ELSE 'dup' END AS disposition
        |FROM lab l LEFT JOIN sur s ON s.event_id = l.event_id
        |ORDER BY l.batch_id, l.event_id""".stripMargin,
    // GENERATED twin of the E84 chain: the x41 minhash/band SQL with the
    // cross-batch arrival condition (batch(a) > batch(b)) and the rounded
    // τ filter the streaming op applies.
    "x135_stream_neardup_replay" -> {
      import graft.functions.MinHash
      val h60 = graft.Tables.h60Sql _
      val sigCols = (0 until 32).map(j =>
        s"list_min(list_transform(hb, h -> ${MinHash.permSql(j, "h")})) AS s$j")
        .mkString(",\n    ")
      val bands = (0 until 8).map { bnd =>
        val cc = (0 until 4).map(r => s"CAST(s${bnd * 4 + r} AS VARCHAR)")
          .mkString(" || ',' || ")
        s"  SELECT doc_id, $bnd AS band_id, ${h60(s"($cc)")} AS bh FROM sg"
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${DedupQueries.shingleCte},
         |hs AS (SELECT doc_id, s, list_transform(s, x -> ${h60("x")}) AS hb FROM sh),
         |sg AS (SELECT doc_id,
         |    $sigCols
         |  FROM hs),
         |bd AS (
         |$bands),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bd a JOIN bd b ON a.band_id = b.band_id AND a.bh = b.bh
         |    AND (a.doc_id % $nReplayBatches) > (b.doc_id % $nReplayBatches)),
         |j AS (
         |  SELECT c.a_id % $nReplayBatches AS batch_id, c.a_id AS doc_id, c.b_id AS c_id,
         |    floor(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(x.s, y.s))) * 10000 + 0.5) / 10000 AS jaccard
         |  FROM cand c JOIN sh x ON x.doc_id = c.a_id JOIN sh y ON y.doc_id = c.b_id)
         |SELECT batch_id, doc_id, c_id, jaccard FROM j WHERE jaccard >= $tau
         |ORDER BY batch_id, doc_id, jaccard DESC, c_id""".stripMargin
    },
    // Per-prefix exact heavy hitters (the x81 oracle, once per trigger).
    "x136_stream_hh_replay" -> {
      val prefixes = (0 until nReplayBatches).map { b =>
        s"""SELECT CAST($b AS BIGINT) AS batch_id, tok, n_occ,
           |  floor(n_occ / CAST(t.total AS DOUBLE) * 1000000 + 0.5) / 1000000 AS freq
           |FROM (SELECT tok, COUNT(*) AS n_occ FROM g WHERE bid <= $b GROUP BY tok) c,
           |  (SELECT COUNT(*) AS total FROM g WHERE bid <= $b) t
           |WHERE n_occ > t.total / ${UdfQueries.hhK}.0""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH g AS (
         |  SELECT doc_id % $nReplayBatches AS bid, unnest(string_split(text, ' ')) AS tok
         |  FROM documents)
         |$prefixes
         |ORDER BY batch_id, n_occ DESC, tok""".stripMargin
    },
    // GENERATED twin of the E68 chain: x30's gate predicate, x46's scrub
    // regexes (declaration order, global), x36's canonical form hashed with
    // h60 — then first-arrival-wins dedup stated as a window over the
    // deterministic (batch, doc) arrival order.
    "x176_stream_curate_replay" -> {
      val h60 = graft.Tables.h60Sql _
      val stopList = TextQueries.stopList
      val toks = "string_split(text, ' ')"
      val scrub = CurationQueries.piiPatterns.foldLeft("text") {
        case (c, (_, pat, repl)) => s"regexp_replace($c, '$pat', '$repl', 'g')"
      }
      val canon = s"list_filter(string_split(regexp_replace(lower(text), " +
        s"'[^a-z0-9 ]', ' ', 'g'), ' '), t -> t <> '' AND t NOT IN ($stopList))"
      s"""WITH g AS (
         |  SELECT doc_id % $nReplayBatches AS batch_id, doc_id, lang, $scrub AS text
         |  FROM documents
         |  WHERE len($toks) >= 10
         |    AND CAST(len(list_filter($toks, t -> t IN ($stopList))) AS DOUBLE)
         |      / len($toks) >= 0.05),
         |ck AS (
         |  SELECT batch_id, doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
         |    ${h60(s"array_to_string($canon, ' ')")} AS canon_h
         |  FROM g),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY canon_h
         |    ORDER BY batch_id, doc_id) AS rn
         |  FROM ck)
         |SELECT batch_id, doc_id, lang, n_chars, canon_h FROM r WHERE rn = 1
         |ORDER BY batch_id, doc_id""".stripMargin
    },
    // GENERATED twin of the E70 chain: the x59 fit+score SQL with a
    // batch_id projection (LmQueries.dsirReplayOracle shares the x59 CTEs).
    "x177_stream_dsir_replay" -> LmQueries.dsirReplayOracle(nReplayBatches),
    // Declarative twin of the E102 emission (r17 contract): per-trigger
    // delta = in-batch latest-wins per key (argmax by seq within bid;
    // 'D' winners as tombstones with c=0, anything else as 'U'); final
    // visible state (batch_id B+1, op 'S') = per-key argmax over
    // (bid, seq) across ALL changes (seed rows are bid-0 'I'), kept iff
    // the winning op ≠ 'D' — the closed form the sequential
    // latest-wins/merge fold computes by induction.
    "x178_stream_cdc_replay" ->
      s"""WITH u AS (
         |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
         |  FROM orders WHERE o_orderkey % 10 = 0),
         |mxq AS (SELECT MAX(k) AS mx FROM u),
         |ik AS (SELECT mx + i AS k, i FROM mxq, (SELECT unnest(range(1, 21)) AS i)),
         |chg AS (
         |  SELECT 0 AS bid, 0 AS seq, k, c, 'I' AS op FROM u
         |  UNION ALL SELECT 1, 1, k, c + 1000, 'U' FROM u WHERE k % 30 = 0
         |  UNION ALL SELECT 1, 1, k, c + 100, 'U' FROM u WHERE k % 30 = 10
         |  UNION ALL SELECT 1, 2, k, c + 200, 'U' FROM u WHERE k % 30 = 10
         |  UNION ALL SELECT 1, 1, k, i * 777, 'I' FROM ik
         |  UNION ALL SELECT 2, 1, k, 0, 'D' FROM u WHERE k % 30 = 0
         |  UNION ALL SELECT 2, 1, k, c + 3000, 'U' FROM u WHERE k % 30 = 20
         |  UNION ALL SELECT 2, 1, k, 0, 'D' FROM ik WHERE i % 2 = 1
         |  UNION ALL SELECT 3, 1, k, c + 4000, 'U' FROM u WHERE k % 60 = 20
         |  UNION ALL SELECT 3, 1, k, c + 9000, 'U' FROM u WHERE k % 90 = 0
         |  UNION ALL SELECT 3, 1, k, 0, 'D' FROM u WHERE k % 30 = 10),
         |del AS (
         |  SELECT bid, k, c, op,
         |    ROW_NUMBER() OVER (PARTITION BY bid, k ORDER BY seq DESC) AS rn
         |  FROM chg WHERE bid >= 1),
         |d2 AS (
         |  SELECT CAST(bid AS BIGINT) AS batch_id, k,
         |    CASE WHEN op = 'D' THEN 0 ELSE c END AS c,
         |    CASE WHEN op = 'D' THEN 'D' ELSE 'U' END AS op
         |  FROM del WHERE rn = 1),
         |fin AS (
         |  SELECT k, c, op,
         |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY bid DESC, seq DESC) AS rn
         |  FROM chg),
         |f2 AS (
         |  SELECT CAST(${nReplayBatches + 1} AS BIGINT) AS batch_id, k, c, 'S' AS op
         |  FROM fin WHERE rn = 1 AND op <> 'D')
         |SELECT * FROM d2 UNION ALL SELECT * FROM f2
         |ORDER BY batch_id, k""".stripMargin,
    // Per-prefix sums over the x109 delta batches (sum's merge is
    // order-free, so the prefix agg IS the complete-mode emission).
    "x179_stream_ivm_replay" -> {
      val prList = IvmQueries.priorities.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT o_orderkey AS k, o_orderpriority AS g,
         |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
         |  FROM orders),
         |dlt AS (
         |  SELECT 0 AS bid, g, 1 AS dn, c AS ds FROM base
         |  UNION ALL SELECT 1, g, -1, -c FROM base WHERE k % 13 = 1
         |  UNION ALL SELECT 1, g, -1, -c FROM base WHERE k % 13 = 2
         |  UNION ALL SELECT 1, '${IvmQueries.priorities.head}', 1, c + 1000
         |    FROM base WHERE k % 13 = 2
         |  UNION ALL SELECT 2, ($prList)[CAST(i % 5 + 1 AS INT)], 1, i * 12345
         |    FROM (SELECT unnest(range(1, 21)) AS i)),
         |pf AS (
         |  SELECT b.b AS batch_id, g,
         |    CAST(SUM(dn) AS BIGINT) AS n_orders, CAST(SUM(ds) AS BIGINT) AS sc
         |  FROM dlt, (SELECT unnest(range(0, $nReplayBatches)) AS b) b
         |  WHERE bid <= b.b GROUP BY 1, 2)
         |SELECT CAST(batch_id AS BIGINT) AS batch_id, g AS o_orderpriority, n_orders,
         |  floor(sc / 100.0 * 100.0 + 0.5) / 100.0 AS sum_price
         |FROM pf WHERE n_orders > 0
         |ORDER BY batch_id, o_orderpriority""".stripMargin
    },
    // GENERATED twin of the E118 chain: static full-table baseline masses,
    // per-batch clamped bin masses, TVD per trigger (x116's arithmetic).
    "x180_stream_drift_replay" ->
      s"""WITH bo AS (
         |  SELECT MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM lineitem),
         |bh AS (
         |  SELECT LEAST(CAST(floor((l_quantity - bo.mn) * 8 / (bo.mx - bo.mn))
         |    AS BIGINT), 7) AS bin, COUNT(*) AS na
         |  FROM lineitem, bo WHERE l_quantity IS NOT NULL GROUP BY 1),
         |bl AS (
         |  SELECT g.bin, CAST(COALESCE(bh.na, 0) AS DOUBLE) / t.ta AS pb
         |  FROM (SELECT unnest(range(0, 8)) AS bin) g
         |  LEFT JOIN bh ON bh.bin = g.bin
         |  CROSS JOIN (SELECT CAST(SUM(na) AS BIGINT) AS ta FROM bh) t),
         |bt AS (
         |  SELECT b.b AS batch_id,
         |    GREATEST(CAST(0 AS BIGINT),
         |      LEAST(CAST(floor((l_quantity - bo.mn) * 8 / (bo.mx - bo.mn))
         |        AS BIGINT), 7)) AS bin,
         |    COUNT(*) AS nb
         |  FROM lineitem, bo, (SELECT unnest(range(0, $nReplayBatches)) AS b) b
         |  WHERE l_quantity IS NOT NULL AND l_orderkey % $nReplayBatches = b.b
         |    AND (b.b < ${nReplayBatches - 1} OR ${IvmQueries.driftPred})
         |  GROUP BY 1, 2),
         |tt AS (SELECT batch_id, CAST(SUM(nb) AS BIGINT) AS n FROM bt GROUP BY 1),
         |tv AS (
         |  SELECT x.batch_id, x.n,
         |    SUM(abs(x.pb - CAST(COALESCE(bt.nb, 0) AS DOUBLE) / x.n)) / 2 AS tvd
         |  FROM (SELECT tt.batch_id, tt.n, bl.bin, bl.pb FROM tt, bl) x
         |  LEFT JOIN bt ON bt.batch_id = x.batch_id AND bt.bin = x.bin
         |  GROUP BY 1, 2)
         |SELECT CAST(batch_id AS BIGINT) AS batch_id, n,
         |  floor(tvd * 1000000.0 + 0.5) / 1000000.0 AS tvd, tvd > 0.1 AS drifted
         |FROM tv ORDER BY batch_id""".stripMargin)
}
