package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables.{t, h60, h60Sql, fround, spread}
import graft.Tables.PinOps

/** Model-based corpus filtering (E61/E62): the two scoring families a
  * pretraining curation pipeline runs AFTER the heuristic filters (x30) and
  * BEFORE mixing (x48) —
  *
  *  - x58: an n-gram language-model quality score in the shape of CCNet's
  *    "perplexity against an LM trained on a reference corpus" filter
  *    (Wenzek et al., CCNet; the reference corpus here is a deterministic
  *    hash slice standing in for Wikipedia);
  *  - x59: DSIR-style importance weights (Xie et al., "Data Selection for
  *    Language Models via Importance Resampling") — hashed-feature
  *    target-vs-raw distribution ratios.
  *
  * Both are formulated in RATIONAL arithmetic (integer counts, IEEE
  * divisions, fixed-point sums) rather than log-space: ln/log2 are libm
  * calls whose last-ulp behavior differs between JVM and DuckDB, while
  * +,-,*,/ on identical doubles are bit-identical everywhere — so both
  * operators hash-match their twins exactly. Monotonicity is what the
  * downstream filter consumes (rank/threshold docs), and 1/avg_p is a
  * perplexity-shaped magnitude if one is wanted.
  */
object LmQueries {
  import CoreQueries.Q

  /** LM-training slice: bucket(doc_id) < 5000 = a deterministic 50% of the
    * corpus (same md5 bucketing as x70/x71, replayable by the twin). */
  private val refBuckets = 5000
  /** Fixed-point scale for cross-engine-exact sums of per-row doubles:
    * floor(x*1e8+0.5) is the same IEEE ops on both engines (see
    * Tables.fround), and the resulting longs sum exactly in any order. */
  private val fixPoint = 1e8

  /** x58 — bigram-LM quality scoring (E61): train a bigram LM with add-one
    * smoothing on the reference slice, score EVERY doc by its mean smoothed
    * bigram probability and its out-of-vocabulary bigram rate. Docs whose
    * n-gram statistics diverge from the reference slice (the CCNet
    * "head/middle/tail" signal) surface with low avg_p / high oov_rate.
    *
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), all counts from the
    * reference slice, V = |distinct successor tokens| there.
    *
    * 100 TB shape: bigram occurrences cross the exchange as 8-byte h60
    * hashes only (never gram text — x38's rule); the LM tables are
    * TYPE-bounded (distinct bigrams « bigram occurrences), so the two
    * count aggs are map-side-combined and the score joins are
    * co-partitioned equi-joins on the hash that AQE broadcasts when the
    * vocab is small (as here); V is a one-row broadcast scalar (x34's
    * pattern). The per-doc agg partial-aggregates map-side to one row per
    * doc. No all-pairs anywhere; every stage is linear in corpus tokens. */
  val x58: Q = (s, d) => {
    val docs = spread(t(s, d, "documents"))
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(DedupQueries.shinglesN(col("toks"), 2)).as("g"))
      .select(col("doc_id"),
        h60(col("g")).as("gh"),
        h60(element_at(split(col("g"), " "), 1)).as("w1h"),
        element_at(split(col("g"), " "), 2).as("w2"))
      // materialized ONCE (r19, guide §2.4): the bigram frame (2 md5
      // hashes per gram) feeds the two ref count aggs, the vocab agg AND
      // the scoring join — 4 lazy evals of the tokenize+hash chain.
      .pin
    val ref = grams.filter(SamplingQueries.bucket(col("doc_id")) < refBuckets)
    val c2 = ref.groupBy(col("gh")).agg(count(lit(1)).as("c2"))
    val c1 = ref.groupBy(col("w1h")).agg(count(lit(1)).as("c1"))
    val v = ref.agg(countDistinct(col("w2")).as("v")) // successor vocab size
    grams
      .join(c2, Seq("gh"), "left")
      .join(c1, Seq("w1h"), "left")
      .crossJoin(broadcast(v)) // single-row scalar
      .select(col("doc_id"), col("c2"),
        ((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")).as("p"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(floor(col("p") * lit(fixPoint) + lit(0.5)).cast("long")).as("fp"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        fround(col("n_oov").cast("double") / col("n_bigrams"), 4).as("oov_rate"),
        fround(col("fp").cast("double") / lit(fixPoint) / col("n_bigrams"), 6).as("avg_p"))
      .orderBy(col("doc_id"))
  }

  /** x59 — DSIR importance weights (E62): hashed token features (h60 mod
    * 256 buckets), target distribution = the `src0` stratum, raw = the
    * whole corpus; a doc's weight is its mean per-token density ratio
    * r(b) = p̂_target(b) / p̂_raw(b), add-one smoothed. High-weight docs
    * "look like" the target domain — the selection signal DSIR resamples
    * by (x75 is the resampling half: feed it these weights).
    *
    * 100 TB shape: the feature space is FIXED (256 buckets by
    * construction), so the two distribution aggs reduce to 256 rows
    * map-side and the ratio table + the one-row totals are broadcasts; the
    * scoring pass is map-only per token, and the only shuffle is the
    * per-doc partial-aggregated mean. Nothing scales with vocab at all —
    * that is DSIR's point (hashed features bound the model size). */
  private val dsirBuckets = 256
  private val dsirTarget = "src0"

  private def dsirToks(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("tok"))
    .select(col("doc_id"), col("source"),
      (h60(col("tok")) % dsirBuckets).as("bk")) // h60 ≥ 0: true bucket

  /** The 256-row bucket-ratio model table fit over a docs frame — the
    * STATIC side of the E70 stream-static enrichment, and x59's model. */
  def dsirRatio(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = dsirToks(docs)
    val tot = toks.agg(
      count(lit(1)).as("tr"),
      sum(when(col("source") === dsirTarget, 1L).otherwise(0L)).as("tt"))
    val raw = toks.groupBy(col("bk")).agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("source") === dsirTarget)
      .groupBy(col("bk")).agg(count(lit(1)).as("ct"))
    raw.join(tgt, Seq("bk"), "left")
      .crossJoin(broadcast(tot)) // single-row scalar
      .select(col("bk"),
        (((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
            (col("tt") + lit(dsirBuckets.toLong)).cast("double")) /
          ((col("cr") + lit(1L)).cast("double") /
            (col("tr") + lit(dsirBuckets.toLong)).cast("double"))).as("r"))
  }

  /** DSIR scoring chain over a docs frame and a fitted ratio table — pure
    * stream-safe DataFrame ops (explode → broadcast join → keyed agg),
    * shared verbatim by batch x59 and StreamOps' E70 stream-static form. */
  def dsirScore(docs: org.apache.spark.sql.DataFrame,
      ratio: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    dsirToks(docs)
      .join(broadcast(ratio), Seq("bk")) // ≤256 rows — always broadcast
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(floor(col("r") * lit(fixPoint) + lit(0.5)).cast("long")).as("fs"))
      .select(col("doc_id"), col("source"), col("n_toks"),
        fround(col("fs").cast("double") / lit(fixPoint) / col("n_toks"), 6)
          .as("imp_weight"))

  /** Per-(session, sfDir) cache of the FITTED 256-row DSIR model (r17,
    * VERDICT r16 #7 — the trainedCents convention): the model is
    * session-stable (a pure function of the corpus), so the serving keys
    * (x59, and x177's three per-trigger scorings) must not re-scan the
    * whole corpus to refit it per invocation. Collected to a driver-side
    * array (256 (bk, r) pairs — model-bounded by construction) and
    * re-injected as a local relation per use; the doubles are the exact
    * values the inline fit computes, so hashes are unchanged. */
  private val dsirRatioCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), Array[(Long, Double)]]

  private[operators] def dsirRatioCached(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val it = dsirRatioCache.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey._1.sparkContext.isStopped) it.remove()
    val rows = dsirRatioCache.computeIfAbsent((s, d), _ =>
      dsirRatio(spread(t(s, d, "documents"))).collect()
        .map(r => (r.getLong(0), r.getDouble(1))))
    import s.implicits._
    rows.toSeq.toDF("bk", "r")
  }

  val x59: Q = (s, d) =>
    dsirScore(spread(t(s, d, "documents")), dsirRatioCached(s, d))
      .orderBy(col("doc_id"))

  /** x67 — BPE merge induction (E65): the first K byte-pair-encoding
    * merges over the corpus vocabulary — how a tokenizer is actually
    * trained from a curated corpus (Sennrich et al.; x37's frequency vocab
    * is the word-level complement). Each word becomes a space-delimited
    * character-symbol string; per round, the (count-weighted) most
    * frequent adjacent symbol pair merges, ties broken lexicographically.
    *
    * 100 TB shape: the ONE corpus-scale stage is the word-count aggregate
    * (map-side combined, cached); the K merge rounds run on the vocab
    * table, which is TYPE-bounded (millions of rows at web scale, not
    * corpus-sized) — exactly how production BPE trainers split the work.
    * Each round's top-pair pick is a 1-row bounded collect (centroidSeeds'
    * pattern); merge application is a map-only double literal-replace.
    *
    * Engine parity: merge application is non-overlapping left-to-right
    * literal replacement, applied twice (the second pass catches
    * occurrences that shared a delimiter space with a replaced one) —
    * Spark's UTF8String.replace and DuckDB's replace() both scan
    * left-to-right and continue after the match, so the vocab states are
    * byte-identical every round; counts and strings are exact, no doubles
    * anywhere. */
  private val bpeK = 6

  val x67: Q = (s, d) =>
    bpeMerges(spread(t(s, d, "documents")), bpeK)

  /** BPE merge rounds over any frame with a `text` column — x67's core,
    * also run by CurationDemo over the SHIPPED train split (a tokenizer is
    * trained on the curated corpus it will tokenize, not the raw one). */
  def bpeMerges(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.DataFrame
    val s = docs.sparkSession
    // corpus-scale stage: word counts, then char-symbol strings " a b c "
    val vocab0 = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("syms"),
        col("cnt"))
      .persist()
    def pairCounts(v: DataFrame): DataFrame = v
      .select(col("cnt"), split(trim(col("syms")), " ").as("a"))
      .select(col("cnt"), explode(when(size(col("a")) >= 2,
          transform(sequence(lit(1), size(col("a")) - 1),
            i => concat(element_at(col("a"), i), lit(" "), element_at(col("a"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("n"))
    var v = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var step = 0
    var exhausted = false
    while (step < k && !exhausted) {
      step += 1
      // Graceful exhaustion (r17, found by the sf100 rehearsal): an empty
      // or fully-merged corpus has no pair candidates left — emit the
      // merges learned so far instead of crashing on collect()(0). A
      // tokenizer trained on a gated-to-nothing split is a pipeline
      // problem the data card surfaces; the trainer must not abort the run.
      val tops = pairCounts(v).orderBy(desc("n"), col("p")).limit(1).collect()
      if (tops.isEmpty) { exhausted = true }
      else {
      val top = tops(0)
      val (p, n) = (top.getString(0), top.getLong(1))
      merges += ((step.toLong, p, n))
      val m = p.replace(" ", "")
      // bound literals, not SQL interpolation: a pair containing a quote or
      // backslash (apostrophes in real text) must not break the parse
      def sub(c: org.apache.spark.sql.Column) =
        org.apache.spark.sql.functions.replace(c, lit(s" $p "), lit(s" $m "))
      v = v.withColumn("syms", sub(sub(col("syms"))))
      }
    }
    vocab0.unpersist()
    import s.implicits._
    merges.toSeq.toDF("step", "pair", "n").orderBy(col("step"))
  }

  /** Trained merge pairs in step order, cached per (session, corpus dir) —
    * the tokenizer ARTIFACT x86 applies. Training (x67's rounds) runs once;
    * the cache holds bpeK strings (the Quantizers model-cache pattern). */
  private val mergeCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), Array[String]]

  private def trainedMerges(s: org.apache.spark.sql.SparkSession, d: String): Array[String] = {
    val it = mergeCache.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey._1.sparkContext.isStopped) it.remove()
    mergeCache.computeIfAbsent((s, d), _ =>
      bpeMerges(spread(t(s, d, "documents")), bpeK).collect()
        .sortBy(_.getLong(0)).map(_.getString(1)))
  }

  /** x86 — BPE corpus encode (E79): apply the TRAINED x67 merges to every
    * document and report per-doc token statistics — the encode half of the
    * tokenizer lifecycle (train x67 → encode x86 → pack x39), and the
    * statistic (tokens per doc under the real tokenizer) that length
    * batching/packing/cost estimates actually need, where x31's
    * whitespace count is only a proxy.
    *
    * 100 TB shape: encoding is VOCAB-level — each distinct word is encoded
    * once (the merge chain is bpeK literal-replace expressions over the
    * type-bounded vocab table), then a broadcast join maps word
    * occurrences to token counts; the only corpus-scale stages are the
    * word explode and the per-doc aggregation, both map-side-combinable.
    * This is how production tokenizer pipelines encode at scale: cache
    * encodes per distinct word, never re-merge per occurrence.
    *
    * Engine parity: merge application is the trained-chain's exact double
    * literal-replace; the twin RE-TRAINS the merges in SQL (bpeOracle's
    * chain, nothing interpolated) and re-applies them to a word-keyed
    * vocab, so the whole train→encode path is oracle-checked. */
  val x86: Q = (s, d) => {
    val merges = trainedMerges(s, d)
    val docs = spread(t(s, d, "documents"))
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val syms0 = concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 "))
    val symsN = merges.foldLeft(syms0) { (c, p) =>
      val m = p.replace(" ", "")
      // bound literals + the double pass, byte-for-byte the training's
      // application step (catches occurrences sharing a delimiter space)
      replace(replace(c, lit(s" $p "), lit(s" $m ")), lit(s" $p "), lit(s" $m "))
    }
    val enc = vocab.select(col("w"), size(split(trim(symsN), " ")).cast("long").as("n_tok"))
    words.join(broadcast(enc), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens").cast("long").as("n_tokens"),
        fround(col("n_tokens") / col("n_words"), 4).as("tokens_per_word"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "x58_lm_score" -> x58,
    "x59_dsir_weights" -> x59,
    "x67_bpe_merges" -> x67,
    "x86_bpe_encode" -> x86)

  /** GENERATED x58 twin: the occurrence-preserving shingle chain (shared
    * shingleSql, distinct=false) + the identical count/smooth/fix-point
    * arithmetic. Integer SUMs are CAST AS BIGINT (HUGEINT rule iii). */
  private def lmScoreOracle: String =
    s"""WITH sh AS (
       |  ${DedupQueries.shingleSql(2, "doc_id", distinct = false)}),
       |bg AS (
       |  SELECT doc_id, ${h60Sql("g")} AS gh,
       |    ${h60Sql("string_split(g,' ')[1]")} AS w1h,
       |    string_split(g,' ')[2] AS w2
       |  FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
       |ref AS (SELECT * FROM bg WHERE ${SamplingQueries.bucketSqlFor("doc_id")} < $refBuckets),
       |c2 AS (SELECT gh, COUNT(*) AS c2 FROM ref GROUP BY gh),
       |c1 AS (SELECT w1h, COUNT(*) AS c1 FROM ref GROUP BY w1h),
       |v AS (SELECT COUNT(DISTINCT w2) AS v FROM ref),
       |sc AS (
       |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |    CAST(SUM(CAST(floor(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE) / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE) * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS fp
       |  FROM bg b LEFT JOIN c2 ON b.gh = c2.gh LEFT JOIN c1 ON b.w1h = c1.w1h CROSS JOIN v
       |  GROUP BY b.doc_id)
       |SELECT doc_id, n_bigrams, n_oov,
       |  floor(CAST(n_oov AS DOUBLE) / n_bigrams * 10000 + 0.5) / 10000 AS oov_rate,
       |  floor(CAST(fp AS DOUBLE) / 100000000.0 / n_bigrams * 1000000 + 0.5) / 1000000 AS avg_p
       |FROM sc ORDER BY doc_id""".stripMargin

  /** GENERATED x59 twin: identical bucketing, totals, smoothing, and
    * fix-point mean. */
  private def dsirOracle: String =
    s"""$dsirCoreSql
       |SELECT doc_id, source, n_toks,
       |  floor(CAST(fs AS DOUBLE) / 100000000.0 / n_toks * 1000000 + 0.5) / 1000000 AS imp_weight
       |FROM sc ORDER BY doc_id""".stripMargin

  /** x177 twin (E70's stream-static replay): the SAME fitted model + score
    * chain, emitted per micro-batch (batch = doc_id % nBatches) — scoring
    * is per-doc, so each trigger's emission is exactly its docs' x59 rows. */
  private[operators] def dsirReplayOracle(nBatches: Int): String =
    s"""$dsirCoreSql
       |SELECT CAST(doc_id % $nBatches AS BIGINT) AS batch_id, doc_id, source, n_toks,
       |  floor(CAST(fs AS DOUBLE) / 100000000.0 / n_toks * 1000000 + 0.5) / 1000000 AS imp_weight
       |FROM sc ORDER BY batch_id, doc_id""".stripMargin

  /** Shared WITH-chain of the x59 / x177 twins: fit (bucket ratios over the
    * full corpus — the STATIC side) + per-doc fix-point score. */
  private def dsirCoreSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, ${h60Sql("tok")} % $dsirBuckets AS bk
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
       |        FROM documents) u),
       |tot AS (
       |  SELECT COUNT(*) AS tr,
       |    CAST(SUM(CASE WHEN source = '$dsirTarget' THEN 1 ELSE 0 END) AS BIGINT) AS tt
       |  FROM tk),
       |raw AS (SELECT bk, COUNT(*) AS cr FROM tk GROUP BY bk),
       |tgt AS (SELECT bk, COUNT(*) AS ct FROM tk WHERE source = '$dsirTarget' GROUP BY bk),
       |rt AS (
       |  SELECT r.bk,
       |    (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + $dsirBuckets AS DOUBLE)) /
       |    (CAST(r.cr + 1 AS DOUBLE) / CAST(tot.tr + $dsirBuckets AS DOUBLE)) AS r
       |  FROM raw r LEFT JOIN tgt t ON r.bk = t.bk CROSS JOIN tot),
       |sc AS (
       |  SELECT tk.doc_id, tk.source, COUNT(*) AS n_toks,
       |    CAST(SUM(CAST(floor(rt.r * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS fs
       |  FROM tk JOIN rt ON tk.bk = rt.bk
       |  GROUP BY tk.doc_id, tk.source)""".stripMargin

  /** GENERATED x67 twin: the same K merge rounds as chained CTE pairs —
    * p_k picks the top pair from v_{k-1}, v_k applies the identical double
    * literal-replace. All strings and integer counts, no doubles. */
  private def bpeOracle: String = {
    val v0 =
      """v0 AS (
        |  SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS syms, cnt FROM (
        |    SELECT w, COUNT(*) AS cnt FROM (
        |      SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
        |    GROUP BY w) wc)""".stripMargin
    val stages = (1 to bpeK).map { k =>
      val repl = s"' ' || p$k.p || ' ', ' ' || replace(p$k.p, ' ', '') || ' '"
      s"""p$k AS (
         |  SELECT p, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS p
         |    FROM (SELECT cnt, string_split(trim(syms), ' ') AS a FROM v${k - 1}) sp) g
         |  GROUP BY p ORDER BY n DESC, p LIMIT 1),
         |v$k AS (
         |  SELECT replace(replace(v.syms, $repl), $repl) AS syms, v.cnt
         |  FROM v${k - 1} v, p$k)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to bpeK).map(k =>
      s"SELECT CAST($k AS BIGINT) AS step, p AS pair, n FROM p$k").mkString("\nUNION ALL\n")
    s"WITH $v0,\n$stages\n$sel\nORDER BY step"
  }

  /** GENERATED x86 twin: bpeOracle's training chain re-run with the word
    * threaded through every vocab state (w rides v0..v{bpeK} unchanged),
    * then the per-word token counts joined back to the corpus words.
    * MATERIALIZED on the chained CTEs: each stage references its
    * predecessor twice (pair pick + merge application), and DuckDB's
    * default inlining would re-evaluate the whole upstream chain per
    * reference — exponential in bpeK (the refineOracle lesson). */
  private def bpeEncodeOracle: String = {
    val v0 =
      """ev0 AS MATERIALIZED (
        |  SELECT w, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS syms, cnt FROM (
        |    SELECT w, COUNT(*) AS cnt FROM (
        |      SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
        |    GROUP BY w) wc)""".stripMargin
    val stages = (1 to bpeK).map { k =>
      val repl = s"' ' || ep$k.p || ' ', ' ' || replace(ep$k.p, ' ', '') || ' '"
      s"""ep$k AS MATERIALIZED (
         |  SELECT p, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS p
         |    FROM (SELECT cnt, string_split(trim(syms), ' ') AS a FROM ev${k - 1}) sp) g
         |  GROUP BY p ORDER BY n DESC, p LIMIT 1),
         |ev$k AS MATERIALIZED (
         |  SELECT v.w, replace(replace(v.syms, $repl), $repl) AS syms, v.cnt
         |  FROM ev${k - 1} v, ep$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $v0,
       |$stages,
       |enc AS MATERIALIZED (
       |  SELECT w, CAST(len(string_split(trim(syms), ' ')) AS BIGINT) AS n_tok
       |  FROM ev$bpeK),
       |docw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,
       |  floor(CAST(SUM(e.n_tok) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS tokens_per_word
       |FROM docw d JOIN enc e ON d.w = e.w
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "x58_lm_score" -> lmScoreOracle,
    "x59_dsir_weights" -> dsirOracle,
    "x67_bpe_merges" -> bpeOracle,
    "x86_bpe_encode" -> bpeEncodeOracle)
}
