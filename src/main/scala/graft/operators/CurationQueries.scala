package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{t, fround, h60, h60Sql}
import graft.Tables.PinOps

/** Corpus-hygiene curation verbs (E38/E39): eval-set decontamination and
  * PII/unsafe-content scrubbing — the two gates a training-data pipeline
  * runs between quality filtering and dedup (the reference's e2e
  * verification role, `validation/e2e.sh:158-177`, generalized to corpus
  * hygiene over the documents table).
  *
  * 100 TB design notes:
  *  - Decontamination (x45) is the x41 LSH shape with the eval set as the
  *    second relation: explode docs into 13-gram shingle HASHES (h60 —
  *    8 bytes crosses the exchange, never the shingle text) and equi-join
  *    train grams against eval grams on the hash. Co-partitioned hash
  *    join, no all-pairs anywhere; when the eval set is a real held-out
  *    benchmark (MBs–GBs, not a 10% split) Spark broadcasts its gram set
  *    and the train side never shuffles at all.
  *  - Scrubbing (x46) is per-row regexp expressions (codegen'd, no UDFs)
  *    plus one final aggregation — embarrassingly parallel; the scrub
  *    checksum (bit_xor of h60(scrubbed)) is order-independent, so the
  *    audit value is reproducible under any partitioning/reduction order.
  */
object CurationQueries {
  import CoreQueries.Q

  /** Shingle width for decontamination: 13-gram is the published
    * train/eval overlap standard (GPT-3/PaLM-style n-gram decontamination
    * uses 8–13 grams); docs shorter than 13 tokens match on whole text. */
  val decontamN = 13

  /** Per-doc distinct 13-gram hashes for one split of `documents`.
    * Exploded (id, gram-hash) pairs: the shuffle rows are 16 bytes. */
  private def grams(docs: DataFrame, idAs: String): DataFrame = docs
    .select(col("doc_id").as(idAs), split(col("text"), " ").as("toks"))
    .select(col(idAs), explode(array_distinct(
      graft.functions.VectorExprs.h60Array(DedupQueries.shinglesN(col("toks"), decontamN)))).as("g"))

  /** Decontamination hits: train-split docs sharing ≥1 13-gram with the
    * held-out test split, with overlap counts and contaminated fraction.
    * A pipeline drops (or flags) these before training so eval numbers
    * aren't inflated by memorized eval content. */
  def decontamination(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.spread(t(s, d, "documents"))
      .withColumn("split", SamplingQueries.splitCol(col("doc_id")))
    // train grams materialize ONCE (r19, guide §2.4): the per-doc totals
    // agg and the hits join each re-ran tokenize + md5-per-13-gram. (x88
    // is the shape that AVOIDS this materialization at 100 TB; x45 is the
    // exact-report twin whose hits join already moves the train stream.)
    val train = grams(docs.filter(col("split") === "train"), "t_id")
      .pin
    val ev = grams(docs.filter(col("split") === "test"), "e_id")
    val perDoc = train.groupBy(col("t_id")).agg(count(lit(1)).as("n_grams"))
    // two COUNT(DISTINCT) → one Expand(×2) agg: fine — the input here is
    // the collided pairs only, a vanishing fraction of the corpus
    val hits = train.join(ev, "g")
      .groupBy(col("t_id"))
      .agg(countDistinct(col("g")).as("n_shared"),
        countDistinct(col("e_id")).as("n_eval_docs"))
    hits.join(perDoc, "t_id")
      .select(col("t_id").as("doc_id"), col("n_grams"), col("n_shared"),
        col("n_eval_docs"),
        fround(col("n_shared") / col("n_grams").cast("double"), 4).as("frac"))
  }

  /** x45 — eval-set decontamination report (deterministic order). */
  val x45: Q = (s, d) =>
    decontamination(s, d).orderBy(desc("n_shared"), col("doc_id"))

  /** Flag-only decontamination (CurationDemo's stage-6 need — r16, found
    * by the sf100 rehearsal): the SET of train doc_ids sharing ≥1 gram
    * with the test split, pair-free. A LEFT SEMI join of the train gram
    * stream against the DISTINCT eval gram set (benchmark-sized →
    * broadcast) never materializes (t_id, e_id) pairs, so a duplicate-
    * flooded corpus (sf100: 1000-way copies put every shared gram in
    * ~800 train × ~100 test docs — the x45 report's n_eval_docs pair
    * join goes quadratic there by definition) stays one linear map-side
    * pass. Exactly x45's flagged id set (CurationSpec asserts). */
  def contaminatedIds(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.spread(t(s, d, "documents"))
      .withColumn("split", SamplingQueries.splitCol(col("doc_id")))
    val train = grams(docs.filter(col("split") === "train"), "t_id")
    val ev = grams(docs.filter(col("split") === "test"), "e_id")
    train.join(broadcast(ev.select(col("g")).distinct()), Seq("g"), "left_semi")
      .select(col("t_id").as("doc_id")).distinct()
  }

  /** x88 Bloom size: FIXED 8M bits (1 MB) rather than sized from a count
    * pass — ~3% fpp up to ~1.2M eval grams (eval sets are benchmark-sized,
    * MBs–GBs of text), and EXACTNESS never depends on sizing: a saturated
    * filter only wastes confirm probes. Fixing the bits drops a whole job
    * (the count pass) from the serving path. */
  val bloomBits = 1L << 23

  /** x88 — Bloom-prefiltered decontamination (E81): x45's EXACT report,
    * computed the way a 100 TB pipeline does it. Build a Bloom filter over
    * the eval split's gram hashes on the driver (eval sets are benchmark-
    * sized — KBs–MBs of filter for MBs–GBs of eval text), embed it in a
    * codegen'd predicate ([[graft.functions.BloomMightContainLong]]) over
    * the train gram stream, and send ONLY the survivors into the exact
    * confirm join. Blooms have no false negatives, so the confirm join sees
    * every true hit and the result is bit-identical to x45 (the oracle twin
    * IS x45's); false positives only waste confirm probes (≤fpp of train
    * grams). The join input drops from every train gram to hits + fpp·N —
    * at 100 TB that's the difference between shuffling the corpus's whole
    * gram stream and shuffling ~nothing. Per-doc gram totals still ride the
    * full stream, but as a map-side-combined count, not a join. */
  val x88: Q = (s, d) => {
    val docs = graft.Tables.spread(t(s, d, "documents"))
      .withColumn("split", SamplingQueries.splitCol(col("doc_id")))
    val train = grams(docs.filter(col("split") === "train"), "t_id")
    // eval grams materialize ONCE (r19, guide §2.4): referenced twice (the
    // Bloom-build action + the exact confirm join) and eval sets are
    // benchmark-sized by contract — the train-side gram stream stays lazy
    // (recompute beats materializing a corpus-scale stream at 100 TB).
    val ev = grams(docs.filter(col("split") === "test"), "e_id")
      .pin
    val bloom = graft.functions.BloomExpr.toBytes(
      ev.stat.bloomFilter("g", 1L << 20, bloomBits))
    val cand = train.filter(
      graft.functions.BloomExpr.mightContainLong(bloom, col("g")))
    val perDoc = train.groupBy(col("t_id")).agg(count(lit(1)).as("n_grams"))
    val hits = cand.join(ev, "g")
      .groupBy(col("t_id"))
      .agg(countDistinct(col("g")).as("n_shared"),
        countDistinct(col("e_id")).as("n_eval_docs"))
    hits.join(perDoc, "t_id")
      .select(col("t_id").as("doc_id"), col("n_grams"), col("n_shared"),
        col("n_eval_docs"),
        fround(col("n_shared") / col("n_grams").cast("double"), 4).as("frac"))
      .orderBy(desc("n_shared"), col("doc_id"))
  }

  /** Context-window parameters for x49 (64-token windows, 48-token stride
    * → 16-token overlap): shared with the generated twin. */
  val chunkSize = 64
  val chunkStride = 48

  /** x49 — context-window chunking: split each doc into fixed-token-budget
    * overlapping windows (the pretraining/RAG sequencing step between
    * curation and tokenization). Pure per-row expression work — the chunk
    * plan (count, starts) is integer arithmetic, the chunks explode from
    * the token array with no shuffle; at 100 TB this is a map-only stage
    * whose output is the training sequence table. Chunk identity is
    * (doc_id, chunk_id) with the content hash carried for audit, so the
    * operator's whole output is oracle hash-checked without moving chunk
    * text through the compare. */
  val x49: Q = (s, d) => {
    val cs = chunkSize; val st = chunkStride
    val docs = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // chunks = 1 for n<=cs, else ceil((n-cs)/st)+1 — exact int arithmetic:
    // ceil((n-cs)/st) = (n - cs + st - 1) div st
    val nChunks = when(size(col("toks")) <= cs, lit(1))
      .otherwise(expr(s"(size(toks) - ${cs - st + 1}) div $st + 1"))
    docs
      .select(col("doc_id"), explode(transform(sequence(lit(1), nChunks),
        i => struct(i.cast("long").as("chunk_id"),
          slice(col("toks"), (i - 1) * st + 1, lit(cs)).as("ct")))).as("c"))
      .select(col("doc_id"), col("c.chunk_id"),
        size(col("c.ct")).cast("long").as("n_toks"),
        h60(array_join(col("c.ct"), " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Scrub classes: PII regexes (zero hits on the synthetic corpus — their
    * replacement machinery is exercised by CurationSpec's planted-PII test)
    * plus a term-redaction class that DOES hit the corpus, so the oracle
    * check verifies real replacement end to end. Patterns stay in the
    * RE2 ∩ java.util.regex common subset so both engines match identically. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "[PHONE]"),
    ("id", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "[ID]"),
    ("term", "\\b(customer|vector)\\b", "[TERM]"))

  /** Per-doc scrub: (doc_id, lang, per-class hit counts, scrubbed text).
    * Counts are measured on the RAW text per class (classes independent);
    * replacement applies in declaration order.
    *
    * Computed by the one-pass codegen'd [[graft.functions.PiiScrubScan]]
    * (r14 VERDICT #3: the 8-pass serial regex chain was the suite's last
    * uncompressed hot loop, 7.4× its twin). The regex chain remains the
    * CONTRACT: the scanner hand-implements exactly `piiPatterns` (construction
    * guard below), CurationSpec differentially tests it against the
    * java.util.regex chain, and the DuckDB twin still runs the regexes. */
  def scrubbed(s: SparkSession, d: String): DataFrame = {
    // loud-failure drift guard: the scanner is pattern-specific
    require(piiPatterns == graft.functions.PiiScrubScan.patterns,
      "piiPatterns drifted from the PiiScrubScan hand-rolled matchers")
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        graft.functions.PiiExprs.piiScrubScan(col("text")).as("pii"))
      .select(col("doc_id"), col("lang"), col("text"),
        col("pii.hits_email").as("hits_email"),
        col("pii.hits_phone").as("hits_phone"),
        col("pii.hits_id").as("hits_id"),
        col("pii.hits_term").as("hits_term"),
        col("pii.scrubbed").as("scrubbed"))
  }

  /** x46 — PII/unsafe-content scrub audit: per-language hit totals, flagged
    * docs, and an order-independent checksum of the scrubbed output (the
    * reproducibility receipt a 100 TB scrub run is audited by). One scan:
    * per-row regex counts + replace + h60, then a single hash aggregate. */
  val x46: Q = (s, d) => {
    val sc = scrubbed(s, d)
      .withColumn("flagged",
        piiPatterns.map { case (n, _, _) => col(s"hits_$n") > 0 }.reduce(_ || _))
      .withColumn("h", h60(col("scrubbed")))
    val aggs =
      (count(lit(1)).as("docs") +:
        piiPatterns.map { case (n, _, _) => sum(col(s"hits_$n")).as(s"hits_$n") }) :+
        sum(when(col("flagged"), 1L).otherwise(0L)).cast("long").as("docs_flagged") :+
        expr("bit_xor(h)").as("scrub_xor")
    sc.groupBy(col("lang"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("lang"))
  }

  val queries: Map[String, Q] = Map(
    "x45_decontamination" -> x45,
    "x46_pii_scrub" -> x46,
    "x49_chunking" -> x49,
    "x88_bloom_decontam" -> x88)

  // GENERATED from the same constants as the Spark side (shingle width,
  // hash, split buckets) — the x41 pattern: the twin replays the exact
  // gram/split chain, so the report is hash-verified, not rows-only.
  // SHARED by x45 and x88: the Bloom pre-filter is exactness-preserving
  // (no false negatives + exact confirm join), so both operators answer to
  // the same exact-overlap contract — sharing the twin string IS the claim.
  private def decontamOracle: String = {
    val sp = SamplingQueries.splitSqlFor("doc_id")
    s"""WITH sh AS (
       |  ${DedupQueries.shingleSql(decontamN)}),
       |gr AS (
       |  SELECT doc_id, $sp AS split,
       |    unnest(list_distinct(list_transform(s, x -> ${h60Sql("x")}))) AS g
       |  FROM sh),
       |tg AS (SELECT doc_id AS t_id, g FROM gr WHERE split = 'train'),
       |eg AS (SELECT doc_id AS e_id, g FROM gr WHERE split = 'test'),
       |pd AS (SELECT t_id, COUNT(*) AS n_grams FROM tg GROUP BY t_id),
       |ht AS (
       |  SELECT t.t_id, COUNT(DISTINCT t.g) AS n_shared,
       |    COUNT(DISTINCT e.e_id) AS n_eval_docs
       |  FROM tg t JOIN eg e ON t.g = e.g GROUP BY t.t_id)
       |SELECT h.t_id AS doc_id, p.n_grams, h.n_shared, h.n_eval_docs,
       |  floor(CAST(h.n_shared AS DOUBLE) / p.n_grams * 10000 + 0.5) / 10000 AS frac
       |FROM ht h JOIN pd p ON p.t_id = h.t_id
       |ORDER BY n_shared DESC, doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "x45_decontamination" -> decontamOracle,
    "x88_bloom_decontam" -> decontamOracle,
    // GENERATED from the same chunk constants: identical window count
    // arithmetic, 1-based inclusive list slices (both engines clamp past
    // the end), identical h60 over the re-joined chunk text.
    "x49_chunking" -> {
      val cs = chunkSize; val st = chunkStride
      val a = s"((chunk_id - 1) * $st + 1)"
      val sliceSql = s"toks[$a:((chunk_id - 1) * $st + $cs)]"
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |n AS (SELECT doc_id, toks,
         |  CASE WHEN len(toks) <= $cs THEN 1
         |       ELSE (len(toks) - ${cs - st + 1}) // $st + 1 END AS nc FROM t),
         |c AS (SELECT doc_id, toks, unnest(range(1, nc + 1)) AS chunk_id FROM n)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(len($sliceSql) AS BIGINT) AS n_toks,
         |  ${h60Sql(s"array_to_string($sliceSql, ' ')")} AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin
    },
    // DuckDB SQL single-quoted strings take no backslash escapes, so the
    // Scala regex text (e.g. \b) embeds verbatim — no re-escaping.
    "x46_pii_scrub" -> {
      val hitCols = piiPatterns.map { case (n, pat, _) =>
        s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS hits_$n"
      }.mkString(",\n    ")
      val scrub = piiPatterns.foldLeft("text") {
        case (c, (_, pat, repl)) =>
          s"regexp_replace($c, '$pat', '$repl', 'g')"
      }
      val sumCols = piiPatterns.map { case (n, _, _) =>
        s"CAST(SUM(hits_$n) AS BIGINT) AS hits_$n" }.mkString(", ")
      val flagged = piiPatterns.map { case (n, _, _) => s"hits_$n > 0" }.mkString(" OR ")
      s"""WITH sc AS (
         |  SELECT doc_id, lang,
         |    $hitCols,
         |    $scrub AS scrubbed
         |  FROM documents)
         |SELECT lang, COUNT(*) AS docs, $sumCols,
         |  CAST(SUM(CASE WHEN $flagged THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
         |  bit_xor(${h60Sql("scrubbed")}) AS scrub_xor
         |FROM sc GROUP BY lang ORDER BY lang""".stripMargin
    })
}
