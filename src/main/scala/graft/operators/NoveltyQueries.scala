package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t, h60, h60Sql, fround, spread}
import graft.Tables.PinOps

/** Corpus novelty diagnostics (E63/E64): who contributes NEW content — the
  * attribution questions a mixture designer asks after the overlap matrix
  * (x38) says sources restate each other, and a curator asks before paying
  * to keep a doc. Both are single-pass declarative plans over the distinct
  * (owner, gram-hash) frame: a gram's "first owner" is a min() aggregate,
  * never an iterative sweep — the greedy set-cover loop a naive
  * implementation runs is replaced by a fixed evaluation order (source
  * name / doc_id), which is what makes the answer deterministic,
  * oracle-checkable, and one shuffle wide at 100 TB.
  */
object NoveltyQueries {
  import CoreQueries.Q

  private val gramN = 3

  /** Distinct (key, gram-hash) pairs over 3-gram shingles — x38's frame
    * with a caller-chosen owner column. Only 8-byte hashes shuffle. */
  private def grams(s: org.apache.spark.sql.SparkSession, d: String,
      key: String): org.apache.spark.sql.DataFrame =
    spread(t(s, d, "documents"))
      .select(col(key), split(col("text"), " ").as("toks"))
      .select(col(key),
        explode(array_distinct(DedupQueries.shinglesN(col("toks"), gramN))).as("gram"))
      .select(col(key), h60(col("gram")).as("gh"))
      .distinct()
      // materialized ONCE (r19, guide §2.4): both novelty keys reference
      // the frame twice (total agg + first-owner chain) — the lazy
      // spelling re-ran tokenize+md5 per reference
      .pin

  /** x65 — source novelty curve (E63): scan sources in name order; each
    * distinct corpus 3-gram is credited to its FIRST source, giving per
    * source the grams it newly contributes, the cumulative corpus coverage
    * up to it, and its novelty fraction (new/total). The order-fixed form
    * of the greedy set-cover "which source should I license next" curve —
    * deterministic and one-pass where greedy is S iterative sweeps.
    *
    * 100 TB shape: distinct-(source, gh) then a min() agg per gh — both
    * map-side combined, 8-byte hashes only; the curve itself is S rows, so
    * the cumulative window is driver-scale (same ≤32-row exemption as
    * x72's offset frames). */
  val x65: Q = (s, d) => {
    val g = grams(s, d, "source")
    val tot = g.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val firsts = g.groupBy(col("gh")).agg(min(col("source")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("new_grams"))
    val w = Window.orderBy(col("source")) // S rows — not data
    tot.join(firsts, Seq("source"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("new_grams"), lit(0L)).as("new_grams"))
      .withColumn("cum_cover",
        sum(col("new_grams")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("novelty_frac",
        fround(col("new_grams").cast("double") / col("n_grams"), 4))
      .orderBy(col("source"))
  }

  /** x66 — per-doc novelty (E64): the fraction of a doc's distinct 3-grams
    * that no earlier doc (by doc_id) contains — verbatim copies of an
    * earlier doc score 0, fresh content scores 1. The per-doc marginal
    * value signal dedup research ranks by (and x44's cluster-keeper rule
    * approximates with length); read next to x78, which measures the
    * opposite (how much of the doc is corpus-common).
    *
    * Same two map-side-combined aggregates as x65, keyed by doc — nothing
    * iterative, no join back to text. */
  val x66: Q = (s, d) => {
    val g = grams(s, d, "doc_id")
    val firstDoc = g.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
    g.join(firstDoc, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), col("n_grams"), col("n_new"),
        fround(col("n_new").cast("double") / col("n_grams"), 4).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "x65_source_novelty" -> x65,
    "x66_doc_novelty" -> x66)

  /** Shared twin CTE: distinct (key, gh) over the same shingle chain. */
  private def gramCte(key: String): String =
    s"""sh AS (
       |  ${DedupQueries.shingleSql(gramN, key)}),
       |g AS (SELECT DISTINCT $key, gh FROM (
       |  SELECT $key, unnest(list_transform(s, x -> ${h60Sql("x")})) AS gh
       |  FROM sh))""".stripMargin

  private def sourceNoveltyOracle: String =
    s"""WITH ${gramCte("source")},
       |tot AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
       |firsts AS (
       |  SELECT source, COUNT(*) AS new_grams FROM (
       |    SELECT gh, MIN(source) AS source FROM g GROUP BY gh)
       |  GROUP BY source)
       |SELECT t.source, t.n_grams,
       |  COALESCE(f.new_grams, 0) AS new_grams,
       |  CAST(SUM(COALESCE(f.new_grams, 0)) OVER (ORDER BY t.source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cover,
       |  floor(CAST(COALESCE(f.new_grams, 0) AS DOUBLE) / t.n_grams * 10000 + 0.5) / 10000 AS novelty_frac
       |FROM tot t LEFT JOIN firsts f ON t.source = f.source
       |ORDER BY t.source""".stripMargin

  private def docNoveltyOracle: String =
    s"""WITH ${gramCte("doc_id")},
       |fd AS (SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh),
       |sc AS (
       |  SELECT g.doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(CASE WHEN fd.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new
       |  FROM g JOIN fd ON g.gh = fd.gh
       |  GROUP BY g.doc_id)
       |SELECT doc_id, n_grams, n_new,
       |  floor(CAST(n_new AS DOUBLE) / n_grams * 10000 + 0.5) / 10000 AS novelty
       |FROM sc ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "x65_source_novelty" -> sourceNoveltyOracle,
    "x66_doc_novelty" -> docNoveltyOracle)
}
