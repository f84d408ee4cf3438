package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables.PinOps

/** End-to-end training-data curation pipeline — the library's operators
  * composing as a user would chain them (each stage IS the shipped query
  * logic, not a reimplementation):
  *
  *   1. profile the raw corpus (x74)
  *   2. quality gate: drop docs under a stopword/length floor (x30 scores)
  *   3. boilerplate gate: drop docs dominated by corpus-common 3-grams
  *      (x78's df≥3 density — the C4-style rule; a doc that is mostly
  *      boilerplate passes length/stopword floors but teaches nothing)
  *   4. LM gate: drop docs whose bigram statistics diverge from the
  *      reference slice (x58's CCNet-shaped scores — low mean smoothed
  *      probability or high OOV rate; the model-based filter that
  *      catches fluency outliers the heuristic floors miss)
  *   5. PII/unsafe-content scrub: downstream text is the scrubbed text
  *      (x46's per-row replace chain)
  *   6. decontamination: drop train-split docs sharing a 13-gram with the
  *      held-out test split (x45's gram join)
  *   7. dedup: near-dup clusters (x44's edges + connectedComponents),
  *      keep the longest member per cluster, drop the rest
  *   8. quality-weighted mixing: downsample survivors in proportion to
  *      their quality score (x75's RNG-free keep predicate)
  *   9. split the sampled set 80/10/10 by key hash (x71's buckets)
  *  10. write one parquet dir per split + a per-source data card of the
  *      shipped corpus (x76) — the audit artifact a consumer reads
  *
  * Every stage is deterministic (hash buckets, fixed thresholds, exact
  * reductions), so re-running reproduces identical splits — asserted in
  * CurationSpec, and the property that makes a 100 TB curation run
  * auditable and resumable.
  *
  * runMain graft.CurationDemo [sfDir] [outDir]
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft-curation")
    val spark = Engine.session()
    val (raw, kept, deboiled, lmKept, clean, surv, sampled) = run(spark, sfDir, outDir)
    println(s"[curation] $raw raw -> $kept quality-kept -> " +
      s"$deboiled after boilerplate gate -> $lmKept after LM gate -> " +
      s"$clean decontaminated -> $surv after dedup -> $sampled sampled")
    spark.stop()
  }

  /** x78 gate: a doc whose 3-grams are ≥70% corpus-common (df≥3) is
    * treated as boilerplate and dropped — the doc-level form of C4's
    * duplicated-line rule. */
  private val boilerplateTau = 0.7

  /** x58 gate: CCNet-shaped LM thresholds — a doc whose mean smoothed
    * bigram probability falls under the floor (its n-gram statistics
    * diverge from the reference slice) or whose OOV-bigram rate exceeds
    * the cap is dropped as a fluency outlier. */
  private val lmMinAvgP = 0.031
  private val lmMaxOov = 0.05

  /** Returns (raw, after quality gate, after boilerplate gate, after LM
    * gate, after decontamination, after dedup, after quality-weighted
    * sampling). */
  def run(spark: SparkSession, sfDir: String,
      outDir: String): (Long, Long, Long, Long, Long, Long, Long) = {
    import graft.operators._

    // Per-stage wall clock (r17, VERDICT r16 #3): the sf100 rehearsal's
    // evidence lives in BASELINE.md §sf100 — each stage is timed at its
    // materializing action so the table there is reproducible verbatim.
    var tLast = System.nanoTime()
    def lap(stage: String): Unit = {
      val now = System.nanoTime()
      println(f"[curation] stage $stage: ${(now - tLast) / 1e9}%.1f s")
      tLast = now
    }

    val profile = SamplingQueries.x74(spark, sfDir).collect()(0)
    val raw = profile.getLong(0)
    println(s"[curation] raw docs: $raw, langs: ${profile.getLong(1)}, " +
      s"avg chars: ${profile.getDouble(7)}")
    lap("profile")

    // Stage products are EAGERLY localCheckpoint'd (r16, found by the
    // sf100 rehearsal): each stage's survivor set is a narrow (doc_id)
    // frame — MBs even at 5M docs — but every later count/write action
    // otherwise RE-RUNS the whole upstream chain (stage 7's count was
    // observed re-hashing stage 6's 13-grams; the 10-action pipeline
    // recomputed the gates ~10×). Checkpointing the ids makes each stage
    // compute exactly once — the iterative-pipeline discipline every
    // 100 TB curation run needs (at cluster scale these become persisted
    // stage manifests, which is also what makes the run RESUMABLE).
    def stage(df: org.apache.spark.sql.DataFrame) = df.pin

    val scored = stage(TextQueries.qualityScores(spark, sfDir)
      .filter(col("stop_ratio") >= 0.05 && col("n_tokens") >= 10)
      .select(col("doc_id")))
    val nScored = scored.count()
    lap("quality-gate")

    // boilerplate gate (x78's rule): density of corpus-common 3-grams,
    // the C4-style df filter between the per-doc quality floor and the
    // cross-doc stages. Canonical-df form (r17, found by the sf100
    // rehearsal): df counted over canonically-distinct docs — raw-row df
    // on a duplicate-flooded crawl classifies the WHOLE corpus as
    // boilerplate (sf100: 5M docs → 0 survivors); duplicate mass belongs
    // to the dedup stage, not the template gate.
    val boiler = TextQueries.boilerplateStatsCanonical(spark, sfDir)
      .filter(col("common_frac") >= boilerplateTau)
      .select(col("doc_id"))
    val kept = stage(scored.join(boiler, Seq("doc_id"), "left_anti"))
    val nKept = kept.count()
    lap("boilerplate-gate")

    // LM gate (x58): model-based fluency filter — the CCNet stage that
    // runs after the heuristic floors; its reference slice is defined on
    // raw doc_ids, so like decon it sees pre-scrub text
    val lmPass = operators.LmQueries.x58(spark, sfDir)
      .filter(col("avg_p") >= lmMinAvgP && col("oov_rate") <= lmMaxOov)
      .select(col("doc_id"))
    val lmKept = stage(kept.join(lmPass, Seq("doc_id"), "left_semi"))
    val nLm = lmKept.count()
    lap("lm-gate")

    // decontamination: drop train docs leaking held-out test content (the
    // gate runs on raw text — scrubbing replaces PII spans but must not
    // hide eval overlap, so decon sees the pre-scrub grams). Flag-only
    // pair-free form (r16): the x45 REPORT's n_eval_docs pair join is
    // quadratic under duplicate floods; the pipeline only needs WHICH docs
    val contaminated = CurationQueries.contaminatedIds(spark, sfDir)
    val cleanIds = stage(lmKept.join(contaminated, Seq("doc_id"), "left_anti"))
    val nClean = cleanIds.count()
    lap("decontamination")

    // dedup keep-best: drop every cluster member that is not the keeper
    val nonKeepers = DedupQueries.clusterMembers(spark, sfDir)
      .filter(!col("is_keeper")).select(col("doc_id"))
    val survivors = stage(cleanIds.join(nonKeepers, Seq("doc_id"), "left_anti"))
    val nSurv = survivors.count()
    lap("dedup")

    // quality-weighted mixing over the RAW text (the published x30 score
    // x75's weight derives from is a raw-text statistic; scrubbing below
    // only rewrites the shipped text, never the sampling decision)
    val sampled = stage(graft.Tables.t(spark, sfDir, "documents")
      .join(survivors, Seq("doc_id"), "left_semi")
      .filter(SamplingQueries.qualityWeightedKeep)
      .select(col("doc_id")))
    val nSampled = sampled.count()
    lap("sampling")

    // output text is the SCRUBBED text (x46's replace chain); n_chars is
    // recomputed from it so the shipped parquet and its data card describe
    // the bytes actually shipped, not the pre-scrub lengths
    val out = graft.Tables.t(spark, sfDir, "documents")
      .join(sampled, Seq("doc_id"), "left_semi")
      .join(CurationQueries.scrubbed(spark, sfDir)
        .select(col("doc_id"), col("scrubbed")), "doc_id")
      .withColumn("text", col("scrubbed")).drop("scrubbed")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("split", SamplingQueries.splitCol(col("doc_id")))
      // six consumers below (3 split writes + card + shards + tokenizer):
      // persist the shipped frame once instead of re-running the scrub
      // join per consumer (r16 — the sf100 rehearsal's other recompute)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Seq("train", "val", "test").foreach { s =>
      out.filter(col("split") === s).drop("split")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$s")
    }
    // per-source data card of the SHIPPED corpus (x76) — what a consumer
    // audits: volumes, residual dups (zero post-dedup), quality mix
    SamplingQueries.sourceCard(out.drop("split"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/cards")
    // loader shards of the shipped train split (x79): deterministic
    // pseudorandom training order, byte-identical across runs
    SamplingQueries.shardAssign(out.filter(col("split") === "train"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/shards")
    // tokenizer merges (x67) trained on the SHIPPED train split — the
    // tokenizer belongs to the curated corpus it will tokenize, so it is
    // derived after scrub/decon/dedup/sampling, not from the raw table
    LmQueries.bpeMerges(out.filter(col("split") === "train"), 6)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/tokenizer")
    lap("write-splits-card-shards-tokenizer")
    out.unpersist()
    (raw, nScored, nKept, nLm, nClean, nSurv, nSampled)
  }
}
