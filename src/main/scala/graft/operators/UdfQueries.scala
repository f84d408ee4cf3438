package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.Tables.PinOps

/** SURVEY §2.2 E29 (UDF / UDAF / UDTF surface) + E30 (approx distinct).
  *
  * Demonstrates each extension mechanism in preference order (guide:
  * functions > native Expression > UDF):
  *  - x60: a scalar Scala UDF (vowel counting) — a real UDF on purpose, to
  *    exercise registration + null handling; the DuckDB twin re-expresses it
  *    with regexp_replace, so even the UDF path is oracle-checked.
  *  - x61: a typed Aggregator UDAF (bounded top-k per group) — the 100 TB
  *    pattern for "top-k per key" when k is small: per-partition bounded
  *    buffers merge associatively, so only k rows per group cross the
  *    shuffle (vs a full window sort). Oracle: the equivalent ROW_NUMBER
  *    window query.
  *  - x62: a UDTF via typed flatMap (bigram expansion) — the Dataset-native
  *    generator form.
  *  - x63: approx_count_distinct (HLL++) vs exact — sketch VALUES are
  *    engine-specific, so the oracle checks the error CONTRACT (exact NDV
  *    + each engine's own within-10% verdict); the spec asserts the
  *    tighter 5% bound on the raw estimate.
  */
object UdfQueries {
  import CoreQueries.Q

  /** x60 — scalar Scala UDF, oracle-checked via a SQL re-expression. */
  val x60: Q = (s, d) => {
    val vowels = udf((text: String) =>
      if (text == null) 0L else text.count("aeiou".contains(_)).toLong)
    t(s, d, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"), sum(vowels(col("text"))).as("n_vowels"))
      .orderBy(col("lang"))
  }

  /** Top-k buffer: two parallel fixed-width primitive arrays + fill count,
    * sorted by (price desc, key asc). A PRODUCT type on purpose: the
    * ExpressionEncoder keeps partial aggregation in Tungsten rows (a kryo
    * buffer is an opaque blob — no codegen, a Java object graph serialized
    * per partial merge). */
  case class TopKBuf(prices: Array[Double], keys: Array[Long], n: Int)

  /** Bounded top-k aggregator: keeps at most k (price, orderkey) pairs,
    * ordered by (price desc, orderkey asc) for determinism.
    *
    * reduce is a bounded insertion: O(1) reject when the row doesn't beat
    * the current k-th (the overwhelmingly common case at scale), O(k)
    * shift-in otherwise, zero allocation either way (arrays mutate in
    * place; only the k-element shell copies when the fill count grows).
    * merge is a two-pointer merge of two sorted arrays, O(k). The 100 TB
    * shape is unchanged — only k rows per group cross the shuffle. */
  class TopK(k: Int) extends Aggregator[(Double, Long), TopKBuf, Seq[(Double, Long)]] {
    @inline private def beats(p1: Double, k1: Long, p2: Double, k2: Long): Boolean =
      p1 > p2 || (p1 == p2 && k1 < k2)
    override def zero: TopKBuf = TopKBuf(new Array[Double](k), new Array[Long](k), 0)
    override def reduce(buf: TopKBuf, row: (Double, Long)): TopKBuf = {
      val (p, key) = row
      if (buf.n == k && !beats(p, key, buf.prices(k - 1), buf.keys(k - 1))) buf
      else {
        var i = 0
        while (i < buf.n && !beats(p, key, buf.prices(i), buf.keys(i))) i += 1
        var j = math.min(buf.n, k - 1)
        while (j > i) {
          buf.prices(j) = buf.prices(j - 1); buf.keys(j) = buf.keys(j - 1); j -= 1
        }
        buf.prices(i) = p; buf.keys(i) = key
        if (buf.n < k) buf.copy(n = buf.n + 1) else buf
      }
    }
    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      if (b.n == 0) a
      else if (a.n == 0) b
      else {
        val outP = new Array[Double](k); val outK = new Array[Long](k)
        var i = 0; var j = 0; var m = 0
        while (m < k && (i < a.n || j < b.n)) {
          val takeA = j >= b.n ||
            (i < a.n && !beats(b.prices(j), b.keys(j), a.prices(i), a.keys(i)))
          if (takeA) { outP(m) = a.prices(i); outK(m) = a.keys(i); i += 1 }
          else { outP(m) = b.prices(j); outK(m) = b.keys(j); j += 1 }
          m += 1
        }
        TopKBuf(outP, outK, m)
      }
    }
    override def finish(buf: TopKBuf): Seq[(Double, Long)] =
      (0 until buf.n).map(i => (buf.prices(i), buf.keys(i)))
    override def bufferEncoder: Encoder[TopKBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TopKBuf]()
    override def outputEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Bottom-k sample buffer (x64): three parallel fixed-width primitive
    * arrays + fill count, sorted by (hash asc, id asc) — the same
    * Tungsten-friendly PRODUCT shape as [[TopKBuf]]. */
  case class BKBuf(hs: Array[Long], ids: Array[Long], vs: Array[Double], n: Int)

  /** Bounded bottom-k-by-hash sample aggregator (x64): keeps the k rows
    * with the SMALLEST (h60(id), id) key per group, carrying each row's
    * value. Because membership is decided by a deterministic hash of the
    * row identity — never by arrival order — the sample is a fixed SET:
    * mergeable (two-pointer merge of sorted arrays, O(k)), replay-stable
    * under AQE/retries, and exactly reproducible by any engine that ranks
    * by the same hash — which is what lets the quantile ESTIMATE hash-match
    * a DuckDB twin where GK/KLL sketch internals never could. Same cost
    * envelope as [[TopK]]: O(1) reject for non-members, k rows per group
    * cross the shuffle. */
  class BottomK(k: Int) extends Aggregator[(Long, Long, Double), BKBuf, Seq[(Long, Long, Double)]] {
    @inline private def beats(h1: Long, i1: Long, h2: Long, i2: Long): Boolean =
      h1 < h2 || (h1 == h2 && i1 < i2)
    override def zero: BKBuf = BKBuf(new Array[Long](k), new Array[Long](k), new Array[Double](k), 0)
    override def reduce(buf: BKBuf, row: (Long, Long, Double)): BKBuf = {
      val (h, id, v) = row
      if (buf.n == k && !beats(h, id, buf.hs(k - 1), buf.ids(k - 1))) buf
      else {
        // binary-search the insertion point: a linear probe is O(k) per
        // ACCEPTED row, and an upstream sorted ascending by (h, id) — e.g.
        // a reuse after a shuffle on h — accepts every row at the tail,
        // degrading the whole group to O(n·k) (ADVICE r13)
        var lo = 0; var hi = buf.n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (beats(h, id, buf.hs(mid), buf.ids(mid))) hi = mid else lo = mid + 1
        }
        val i = lo
        val last = math.min(buf.n, k - 1)
        System.arraycopy(buf.hs, i, buf.hs, i + 1, last - i)
        System.arraycopy(buf.ids, i, buf.ids, i + 1, last - i)
        System.arraycopy(buf.vs, i, buf.vs, i + 1, last - i)
        buf.hs(i) = h; buf.ids(i) = id; buf.vs(i) = v
        if (buf.n < k) buf.copy(n = buf.n + 1) else buf
      }
    }
    override def merge(a: BKBuf, b: BKBuf): BKBuf = {
      if (b.n == 0) a
      else if (a.n == 0) b
      else {
        val oh = new Array[Long](k); val oi = new Array[Long](k); val ov = new Array[Double](k)
        var i = 0; var j = 0; var m = 0
        while (m < k && (i < a.n || j < b.n)) {
          val takeA = j >= b.n ||
            (i < a.n && !beats(b.hs(j), b.ids(j), a.hs(i), a.ids(i)))
          if (takeA) { oh(m) = a.hs(i); oi(m) = a.ids(i); ov(m) = a.vs(i); i += 1 }
          else { oh(m) = b.hs(j); oi(m) = b.ids(j); ov(m) = b.vs(j); j += 1 }
          m += 1
        }
        BKBuf(oh, oi, ov, m)
      }
    }
    override def finish(buf: BKBuf): Seq[(Long, Long, Double)] =
      (0 until buf.n).map(i => (buf.hs(i), buf.ids(i), buf.vs(i)))
    override def bufferEncoder: Encoder[BKBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[BKBuf]()
    override def outputEncoder: Encoder[Seq[(Long, Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long, Double)]]()
  }

  /** x61 — UDAF top-3 orders per market segment via the bounded Aggregator;
    * result shape matches the ROW_NUMBER oracle. */
  val x61: Q = (s, d) => {
    val o = t(s, d, "orders")
    val c = t(s, d, "customer")
    val topk = udaf(new TopK(3),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment"),
        struct(col("o_totalprice").as("_1"), col("o_orderkey").as("_2")).as("po"))
      .groupBy(col("c_mktsegment"))
      .agg(topk(col("po._1"), col("po._2")).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast("long").as("rn"),
        col("col._2").as("o_orderkey"), round(col("col._1"), 2).as("price"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** x62 — UDTF via typed flatMap: bigram expansion + per-lang distinct
    * count. */
  val x62: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    t(s, d, "documents")
      .select(col("lang"), col("text")).as[(String, String)]
      .flatMap { case (lang, text) =>
        val toks = text.split(" ")
        toks.iterator.zip(toks.iterator.drop(1)).map { case (a, b) => (lang, s"$a $b") }
      }
      .toDF("lang", "bigram")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), countDistinct(col("bigram")).as("n_distinct"))
      .orderBy(col("lang"))
  }

  /** x63 — E30 approx distinct (HLL++), oracle-checked via the error
    * CONTRACT rather than the sketch value: raw estimates are
    * engine-specific (Spark HLL++ vs DuckDB's HLL disagree by design), so
    * the output carries the exact NDV plus the deterministic verdict
    * `within_10pct` = |approx − exact| ≤ 10%·exact — each engine auditing
    * ITS OWN sketch against ITS OWN exact count, both sides of the
    * comparison deterministic per dataset. 10% = 2× Spark's default rsd
    * (0.05), so the verdict is stable at every SF while still falsifiable
    * (a broken sketch, or a broken exact count, flips it). The raw
    * estimate stays spec-only: OperatorSpec asserts the tighter 5% bound. */
  val x63: Q = (s, d) =>
    t(s, d, "orders").agg(
      count(lit(1)).as("n_orders"),
      approx_count_distinct(col("o_custkey")).as("approx"),
      countDistinct(col("o_custkey")).as("exact_custs"))
    .select(col("n_orders"), col("exact_custs"),
      (abs(col("approx") - col("exact_custs")) <= col("exact_custs") * lit(0.10))
        .as("within_10pct"))

  /** Misra–Gries buffer: fixed-k parallel primitive arrays (the TopKBuf
    * discipline — product type keeps partials in Tungsten rows). `n` is a
    * var so the hot reduce path mutates in place — ObjectHashAggregate
    * holds the buffer as a live object between rows, so zero allocation
    * per row; the encoder only runs at partial-output boundaries. */
  case class MGBuf(keys: Array[Long], counts: Array[Long], var n: Int)

  /** Mergeable Misra–Gries heavy-hitter sketch over 8-byte keys: at most k
    * counters; any item with true frequency > n/k is GUARANTEED to survive
    * (the deterministic MG bound, preserved under merge — Agarwal et al.,
    * "Mergeable Summaries"). reduce keeps entries roughly count-descending
    * (one bubble swap per hit), so the skewed mass that dominates a real
    * corpus probes the first slots — near-O(1) for hits, O(k) only on the
    * decrement path; merge sums the union then subtracts the (k+1)-th
    * largest combined count and drops non-positives — the standard MG
    * merge. Constant memory per partial whatever the corpus size: this is
    * the 100 TB answer when the exact vocab agg (x37) is itself too big. */
  class MisraGries(k: Int) extends Aggregator[Long, MGBuf, Seq[Long]] {
    override def zero: MGBuf = MGBuf(new Array[Long](k), new Array[Long](k), 0)
    override def reduce(buf: MGBuf, key: Long): MGBuf = {
      var i = 0
      while (i < buf.n && buf.keys(i) != key) i += 1
      if (i < buf.n) {
        val c = buf.counts(i) + 1; buf.counts(i) = c
        if (i > 0 && c > buf.counts(i - 1)) { // bubble heavy keys frontward
          buf.counts(i) = buf.counts(i - 1); buf.counts(i - 1) = c
          val t = buf.keys(i - 1); buf.keys(i - 1) = buf.keys(i); buf.keys(i) = t
        }
        buf
      } else if (buf.n < k) {
        buf.keys(buf.n) = key; buf.counts(buf.n) = 1
        buf.n += 1; buf
      } else { // decrement-all, compact the zeros (stays count-ordered)
        var w = 0; var r = 0
        while (r < buf.n) {
          if (buf.counts(r) > 1) {
            buf.keys(w) = buf.keys(r); buf.counts(w) = buf.counts(r) - 1; w += 1
          }
          r += 1
        }
        buf.n = w; buf
      }
    }
    override def merge(a: MGBuf, b: MGBuf): MGBuf = {
      if (b.n == 0) a
      else if (a.n == 0) b
      else {
        val m = scala.collection.mutable.LongMap.empty[Long]
        (0 until a.n).foreach(i => m(a.keys(i)) = m.getOrElse(a.keys(i), 0L) + a.counts(i))
        (0 until b.n).foreach(i => m(b.keys(i)) = m.getOrElse(b.keys(i), 0L) + b.counts(i))
        val sorted = m.toArray.sortBy { case (key, c) => (-c, key) }
        val d = if (sorted.length > k) sorted(k)._2 else 0L
        val kept = sorted.iterator.map { case (key, c) => (key, c - d) }
          .filter(_._2 > 0).take(k).toArray
        MGBuf(kept.map(_._1), kept.map(_._2), kept.length)
      }
    }
    override def finish(buf: MGBuf): Seq[Long] =
      (0 until buf.n).map(buf.keys).sorted
    override def bufferEncoder: Encoder[MGBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MGBuf]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  private[graft] val hhK = 32

  /** Hoisted once per JVM: ExpressionEncoder construction runs Scala
    * reflection + analysis — rebuilding it per query invocation puts
    * ~100 ms of driver work on the serving path for nothing. The
    * Aggregator instance itself is stateless (all state lives in MGBuf),
    * so one udaf handle is safe across sessions and threads. */
  private[graft] lazy val mgUdaf = udaf(new MisraGries(hhK),
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
  private lazy val hitsEnc =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Long, Double)]()

  /** x81 — heavy-hitter tokens via sketch-then-verify (E71): a Misra–Gries
    * pass produces ≤k candidate hashes (constant memory, one bounded
    * collect), then ONLY the candidates are exact-counted and thresholded
    * at n/k. The MG guarantee makes the composition EXACT and
    * deterministic — every true heavy hitter is a candidate, so the output
    * equals the brute-force HAVING query the twin runs — while at 100 TB
    * the exact pass touches k keys instead of the full vocab. The sketch's
    * eviction path is stressed separately in the spec on a planted skewed
    * corpus with distinct ≫ k. */
  val x81: Q = (s, d) => {
    import s.implicits._
    // xxhash64, not h60: the hash only IDENTIFIES candidates between the
    // two passes (exact counting and thresholding are on the token
    // strings), so cross-engine parity — h60's whole point — buys nothing
    // here and the cheaper hash is the right default. (Measured ~neutral
    // at sf0.1 AND sf1: the pipeline is split/explode/agg-bound, not
    // hash-bound — see SCALING.md §x81.) A collision only merges two
    // tokens' sketch counts (credits can only increase, so true heavy
    // hitters still survive MG eviction) or adds a spurious candidate
    // (discarded by the exact count) — sketch-then-verify stays EXACT.
    val toks = graft.Tables.spread(t(s, d, "documents"))
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(col("tok"), xxhash64(col("tok")).as("gh"))
    // sketch pass: the grand total rides the SAME aggregation (the n/k
    // threshold needs it — a separate count() would re-read the corpus)
    val head = toks.agg(mgUdaf(col("gh")).as("cands"),
      count(lit(1)).as("total")).head
    val cands = head.getSeq[Long](0) // ≤k — bounded by the MG sketch size
    val total = head.getLong(1)
    // verify pass: exact-counts only the ≤k candidate keys, then
    // thresholds. ≤k rows can survive (each needs > n/k occurrences), so
    // collecting is bounded whatever the corpus; returning the result as a
    // LocalRelation keeps downstream evaluation free.
    val hits = toks.filter(col("gh").isin(cands: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > lit(total) / lit(hhK.toDouble))
      .select(col("tok"), col("n_occ"),
        graft.Tables.fround(col("n_occ") / lit(total.toDouble), 6).as("freq"))
      .orderBy(desc("n_occ"), col("tok"))
      .as[(String, Long, Double)](hitsEnc).collect()
    hits.toSeq.toDF("tok", "n_occ", "freq")
  }

  /** x105/x115 count-min dimensions: d hash rows × w buckets. */
  private val cmsD = 4
  private val cmsW = 1024

  /** The d salted CMS bucket ids of a token — h60 of `tok#r` mod w, the
    * arithmetic the x105/x115 twins replay verbatim. */
  private def cmsBuckets(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column = array(
    (0 until cmsD).map(r => pmod(graft.Tables.h60(concat(tok, lit("#" + r))), lit(cmsW.toLong))): _*)

  /** x105 — count-min sketch point-frequency estimation (E100): the
    * OTHER mergeable frequency sketch (x81's Misra–Gries bounds which keys
    * can be heavy; CMS answers "how often does THIS key occur" for any
    * key, with a one-sided error: estimates never undercount and
    * overcount by ≤ εN with high probability, ε = e/w). The sketch is a
    * d×w counter grid — row r counts the token stream under hash salt r;
    * a point estimate is the MIN over the d rows.
    *
    * 100 TB shape: the grid is the aggregation KEY SPACE, so the exchange
    * after map-side combine is bounded by d·w = 4096 rows per task no
    * matter the corpus; counters are plain longs (associative sum — the
    * streaming-mergeable property, same as E85's MG state). The probe
    * set (top-20 exact tokens, deterministic tie-break) joins the
    * 4096-row sketch by BROADCAST. Hash is h60 (cross-engine parity — the
    * twin replays the exact bucket arithmetic, so the ESTIMATES
    * themselves hash-match, not just the exact counts). */
  val x105: Q = (s, d) => {
    val toks = graft.Tables.spread(t(s, d, "documents"))
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = toks.select(posexplode(cmsBuckets(col("tok"))).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("n"))
    val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      .orderBy(desc("exact_n"), col("tok")).limit(20)
    probes.select(col("tok"), col("exact_n"), posexplode(cmsBuckets(col("tok"))).as(Seq("r", "bucket")))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("tok"), col("exact_n")).agg(min(col("n")).as("est_n"))
      .select(col("tok"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
      .orderBy(desc("exact_n"), col("tok"))
  }

  private val hllP = 10
  private[graft] val hllM = 1 << hllP // 1024 registers
  /** HLL bias constant α_m for m=1024 (Flajolet et al. 2007, Fig. 3). The
    * double is computed ONCE here and crosses to the twin as its shortest
    * round-trip decimal string, so both engines divide by bit-identical
    * constants. */
  private val hllAlpha: Double = 0.7213 / (1 + 1.079 / hllM)
  /** Pre-folded numerator α·m²·2⁵² — the 2⁵² un-scales the fix-point
    * register sum (see x107) in the same constant. */
  private[graft] val hllK: Double = hllAlpha * hllM.toDouble * hllM.toDouble * math.pow(2.0, 52)

  /** The x107 register update/estimate arithmetic as plain Scala, shared by
    * the streaming form (E105) so batch and stream produce BIT-IDENTICAL
    * estimates from the same h60 stream: bucket = top 10 bits, rank =
    * leading-zeros+1 of the 50-bit suffix, estimate = α·m²·2⁵² over the
    * fix-point indicator sum (empty registers contribute 2⁵²). */
  private[graft] def hllBucket(h: Long): Int = (h >>> 50).toInt
  private[graft] def hllRho(h: Long): Byte = {
    val v = h & ((1L << 50) - 1)
    (if (v == 0L) 51 else java.lang.Long.numberOfLeadingZeros(v) - 13).toByte
  }
  private[graft] def hllEstimate(regs: Array[Byte]): Double = {
    var sum = 0L
    var i = 0
    while (i < regs.length) { sum += 1L << (52 - regs(i)); i += 1 }
    hllK / sum.toDouble
  }

  /** Mergeable HLL register buffer over pre-hashed h60 keys: the E105
    * streaming state. 1024 bytes per group, constant whatever the stream
    * has seen; merge is elementwise max, so the estimate is independent of
    * micro-batch boundaries and merge order — the same sketch-mergeability
    * argument as the MG buffer above, here with NO error from merging at
    * all (max is exact). */
  class HllSketch extends Aggregator[Long, Array[Byte], Double] {
    override def zero: Array[Byte] = new Array[Byte](hllM)
    override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
      val i = hllBucket(h)
      val r = hllRho(h)
      if (r > b(i)) b(i) = r
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(b: Array[Byte]): Double = hllEstimate(b)
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
  val hllUdaf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udaf(new HllSketch).apply(_)

  /** x107 — deterministic HyperLogLog distinct count (E103): per-lang
    * 3-shingle vocabulary NDV estimated from a 1024-register HLL and
    * compared against the exact distinct, with the ESTIMATE ITSELF
    * oracle-hash-checked — unlike x63's `approx_count_distinct`, whose
    * HLL++ registers are engine-private, this sketch is built from h60
    * arithmetic both engines replay bit-identically.
    *
    * Register construction is integer-only (no libm): the 60-bit h60
    * splits into a 10-bit bucket (top bits) and a 50-bit suffix; the
    * rank ρ = leading-zeros+1 of the suffix comes from an OR-shift smear
    * (propagate the MSB into every lower bit) followed by `bit_count` —
    * ρ = 51 − popcount(smear(v)), with v=0 ⇒ ρ=51, the all-zeros case.
    * The indicator sum Σ 2^−reg is kept in FIX-POINT (each term is the
    * exact long 2^(52−reg), empty registers contribute 2⁵²) so the
    * reduction is an order-independent integer sum — the only floating
    * division is the final α·m²·2⁵²/Σ, one deterministic IEEE op per
    * group. Raw estimator only (no small-range linear-counting branch:
    * that needs ln, a libm call whose last ulp differs across engines);
    * the shingle vocab keeps every group in the raw regime (n > 2.5m).
    *
    * 100 TB shape: this is the MERGEABLE distinct-count — the
    * (group, bucket) max-agg is map-side combined, the exchange is
    * bounded by groups × 1024 rows of 16 B whatever the corpus, and
    * registers from disjoint shards max-merge exactly (the property
    * x63's black-box sketch also has, demonstrated here in replayable
    * form). The exact countDistinct alongside is the verification cost,
    * not the operator — at scale you ship only the sketch. */
  val x107: Q = (s, d) => {
    // materialized ONCE (r19, guide §2.4): the register agg and the exact
    // NDV agg each re-ran tokenize+shingle per reference
    val sh = graft.Tables.spread(t(s, d, "documents"))
      .select(col("lang"), split(col("text"), " ").as("toks"))
      .select(col("lang"),
        explode(array_distinct(DedupQueries.shingles3(col("toks")))).as("g"))
      .pin
    val h = graft.Tables.h60(col("g"))
    def smear(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Seq(1, 2, 4, 8, 16, 32).foldLeft(c)((a, k) => a.bitwiseOR(shiftright(a, k)))
    val rho = lit(51) - bit_count(smear(h.bitwiseAND(lit((1L << 50) - 1))))
    val regs = sh
      .select(col("lang"), col("g"), shiftright(h, 50).as("bucket"), rho.as("rho"))
    val sketch = regs.groupBy(col("lang"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
      .groupBy(col("lang"))
      .agg((sum(expr("shiftleft(cast(1 as bigint), 52 - reg)"))
        + (lit(hllM.toLong) - count(lit(1))) * lit(1L << 52)).as("sumterm"))
    val exact = sh.groupBy(col("lang")).agg(countDistinct(col("g")).as("exact_ndv"))
    val est = lit(hllK) / col("sumterm").cast("double")
    sketch.join(exact, "lang")
      .select(col("lang"),
        graft.Tables.fround(est, 3).as("hll_ndv"),
        col("exact_ndv"),
        graft.Tables.fround((est - col("exact_ndv")) / col("exact_ndv") * 100, 3)
          .as("err_pct"))
      .orderBy(col("lang"))
  }

  /** x111 — HLL sketch set algebra (E108): per-source distinct-shingle
    * sketches combined WITHOUT touching data again — union NDV by
    * register-wise max (exact merge, the HLL property) and intersection
    * by inclusion–exclusion |A∩B| ≈ ndv(A)+ndv(B)−ndv(A∪B) — the
    * corpus-overlap matrix ("how much of source B is already in A?")
    * priced in sketch space. Registers are x107's deterministic h60
    * construction, so estimates hash-match the twin; the exact
    * intersection rides alongside as the verification column (at scale
    * you ship only the sketches).
    *
    * 100 TB shape: the corpus is touched ONCE (the per-source register
    * agg, map-side combined, exchange bounded at sources×1024 16 B
    * rows); ALL pairwise set algebra happens on the |S|×1024 register
    * table — |S|² pairs cost |S|²·m sketch-row operations, zero data
    * passes, and adding a new source means sketching only that source.
    * The pair expansion is an equi-join on the source name against a
    * broadcast 2|pairs|-row membership table, never a theta join. */
  val x111: Q = (s, d) => {
    // Distinct (source, gram) pairs materialize ONCE (r19, guide §2.4):
    // the lazy spelling re-ran tokenize+shingle+distinct for the register
    // agg, the source-list action AND both sides of the exact-intersection
    // join. regs (sources×1024 rows) also checkpoints so the source-list
    // collect doesn't re-run the register aggregation.
    val sh = graft.Tables.spread(t(s, d, "documents"))
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"),
        explode(array_distinct(DedupQueries.shingles3(col("toks")))).as("g"))
      .distinct()
      .pin
    val h = graft.Tables.h60(col("g"))
    def smear(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Seq(1, 2, 4, 8, 16, 32).foldLeft(c)((a, k) => a.bitwiseOR(shiftright(a, k)))
    val rho = lit(51) - bit_count(smear(h.bitwiseAND(lit((1L << 50) - 1))))
    val regs = sh.select(col("source"), shiftright(h, 50).as("bucket"), rho.as("rho"))
      .groupBy(col("source"), col("bucket")).agg(max(col("rho")).as("reg"))
      .pin
    val sumterm = sum(expr("shiftleft(cast(1 as bigint), 52 - reg)")) +
      (lit(hllM.toLong) - count(lit(1))) * lit(1L << 52)
    val singles = regs.groupBy(col("source")).agg(sumterm.as("st"))
    // source list = the MODEL dimension (|S| names, like the ANN family's
    // seed/probe collects) — bounded driver collect, pairs materialize as
    // a LocalRelation instead of a cartesian NLJ plan
    val srcList = regs.select(col("source")).distinct()
      .orderBy(col("source")).collect().map(_.getString(0)).toSeq
    import s.implicits._
    val pairs = (for { a <- srcList; b <- srcList if a < b } yield (a, b))
      .toDF("sa", "sb")
    val members = pairs.select(col("sa"), col("sb"), col("sa").as("source"))
      .unionAll(pairs.select(col("sa"), col("sb"), col("sb").as("source")))
    val unions = broadcast(members).join(regs, "source")
      .groupBy(col("sa"), col("sb"), col("bucket")).agg(max(col("reg")).as("reg"))
      .groupBy(col("sa"), col("sb")).agg(sumterm.as("ust"))
    val ex = sh.select(col("source").as("sa"), col("g"))
      .join(sh.select(col("source").as("sb"), col("g")), Seq("g"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("exact_inter"))
    def est(st: org.apache.spark.sql.Column) = lit(hllK) / st.cast("double")
    pairs
      .join(singles.select(col("source").as("sa"), col("st").as("sta")), "sa")
      .join(singles.select(col("source").as("sb"), col("st").as("stb")), "sb")
      .join(unions, Seq("sa", "sb"))
      .join(ex, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"),
        graft.Tables.fround(est(col("sta")), 3).as("ndv_a"),
        graft.Tables.fround(est(col("stb")), 3).as("ndv_b"),
        graft.Tables.fround(est(col("ust")), 3).as("ndv_union"),
        graft.Tables.fround(est(col("sta")) + est(col("stb")) - est(col("ust")), 3)
          .as("est_inter"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
      .orderBy(col("sa"), col("sb"))
  }

  /** x115 — CMS join-size estimation (E111): predict the output
    * cardinality of a token equi-join between two sources as the inner
    * product of their count-min grids — |A⋈B| = Σ_k cA(k)·cB(k), and
    * min_r Σ_w gridA[r][w]·gridB[r][w] overestimates it one-sidedly
    * (AMS/CM inner-product estimation). This is the planner question
    * behind every dedup fan-out guard in this engine ("how many candidate
    * pairs will this gram join produce?") answered BEFORE running the
    * join, from two 4×1024 sketches.
    *
    * 100 TB shape: BOTH grids build in ONE shared pass over the union of
    * the two sources (r16, VERDICT r15 #3 — the split-scan form ran 4
    * separate jobs and 13× the twin at sf0.1): each side's counter rides
    * as a conditional sum keyed by the same (r, bucket), so the exchange
    * stays bounded at d·w rows regardless of corpus and the per-bucket
    * inner-product term needs no grid-grid join at all. Grids of
    * per-shard streams sum counter-wise (CMS is linear), so the estimate
    * composes over partitions and over time; counters and products are
    * longs — at corpus scales where Σc² approaches 2⁶³ the grid rows
    * widen to doubles, the estimate stays an estimate. The exact inner
    * product alongside is the verification cost, not the operator — and
    * it shares the same single token scan the same way. */
  val x115: Q = (s, d) => {
    val docs = graft.Tables.spread(t(s, d, "documents"))
    val toks = docs.filter(col("source").isin("src0", "src1"))
      .select((col("source") === "src0").as("isA"),
        explode(split(col("text"), " ")).as("tok"))
      // materialized ONCE (r19, guide §2.4): the grid estimate and the
      // exact inner product are two consumers — lazy lineage re-ran the
      // scan+tokenize per consumer, undoing the r16 one-shared-pass fix.
      .pin
    def sideN(a: Boolean, as: String) =
      sum(when(if (a) col("isA") else !col("isA"), 1L).otherwise(0L)).as(as)
    val est = toks
      .select(col("isA"), posexplode(cmsBuckets(col("tok"))).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(sideN(true, "n"), sideN(false, "nb"))
      .groupBy(col("r")).agg(sum(col("n") * col("nb")).as("ip"))
      .agg(min(col("ip")).as("est_pairs"))
    val exact = toks.groupBy(col("tok")).agg(sideN(true, "na"), sideN(false, "nb"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_pairs"))
    est.crossJoin(exact).select(col("est_pairs"), col("exact_pairs"),
      graft.Tables.fround(
        (col("est_pairs") - col("exact_pairs")) / col("exact_pairs") * 100, 3)
        .as("over_pct"))
  }

  val queries: Map[String, Q] = Map(
    "x105_countmin" -> x105,
    "x107_hll_distinct" -> x107,
    "x111_hll_set_algebra" -> x111,
    "x115_cms_joinsize" -> x115,
    "x60_udf_vowels" -> x60,
    "x61_udaf_topk" -> x61,
    "x62_udtf_bigrams" -> x62,
    "x63_approx_distinct" -> x63,
    "x81_heavy_hitters" -> x81)

  val oracles: Map[String, String] = Map(
    // the sketch-value columns are engine-specific; the twin replays the
    // CONTRACT — exact NDV + its own sketch's within-10% verdict (see x63)
    "x63_approx_distinct" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
        |  abs(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey))
        |    <= COUNT(DISTINCT o_custkey) * 0.10 AS within_10pct
        |FROM orders""".stripMargin,
    "x107_hll_distinct" ->
      s"""WITH sh AS (SELECT lang, unnest(s) AS g FROM (${DedupQueries.shingleSql(3, "lang")})),
         |h AS (SELECT lang, g, ${graft.Tables.h60Sql("g")} AS h FROM sh),
         |b AS (SELECT lang, h >> 50 AS bucket, h & ((1::BIGINT << 50) - 1) AS v FROM h),
         |s1 AS (SELECT lang, bucket, v | (v >> 1) AS t FROM b),
         |s2 AS (SELECT lang, bucket, t | (t >> 2) AS t FROM s1),
         |s3 AS (SELECT lang, bucket, t | (t >> 4) AS t FROM s2),
         |s4 AS (SELECT lang, bucket, t | (t >> 8) AS t FROM s3),
         |s5 AS (SELECT lang, bucket, t | (t >> 16) AS t FROM s4),
         |s6 AS (SELECT lang, bucket, t | (t >> 32) AS t FROM s5),
         |reg AS (SELECT lang, bucket, MAX(51 - bit_count(t)) AS reg FROM s6 GROUP BY 1, 2),
         |agg AS (SELECT lang,
         |          SUM(1::BIGINT << (52 - reg)) + ($hllM - COUNT(*)) * (1::BIGINT << 52) AS sumterm
         |        FROM reg GROUP BY 1),
         |ex AS (SELECT lang, COUNT(DISTINCT g) AS exact_ndv FROM sh GROUP BY 1)
         |SELECT a.lang,
         |  floor($hllK / CAST(sumterm AS DOUBLE) * 1000 + 0.5) / 1000 AS hll_ndv,
         |  exact_ndv,
         |  floor(($hllK / CAST(sumterm AS DOUBLE) - exact_ndv) / exact_ndv * 100 * 1000 + 0.5) / 1000 AS err_pct
         |FROM agg a JOIN ex USING (lang) ORDER BY a.lang""".stripMargin,
    "x111_hll_set_algebra" ->
      s"""WITH sh0 AS (SELECT source, unnest(s) AS g FROM (${DedupQueries.shingleSql(3, "source")})),
         |sh AS (SELECT DISTINCT source, g FROM sh0),
         |h AS (SELECT source, ${graft.Tables.h60Sql("g")} AS h FROM sh),
         |b AS (SELECT source, h >> 50 AS bucket, h & ((1::BIGINT << 50) - 1) AS v FROM h),
         |s1 AS (SELECT source, bucket, v | (v >> 1) AS t FROM b),
         |s2 AS (SELECT source, bucket, t | (t >> 2) AS t FROM s1),
         |s3 AS (SELECT source, bucket, t | (t >> 4) AS t FROM s2),
         |s4 AS (SELECT source, bucket, t | (t >> 8) AS t FROM s3),
         |s5 AS (SELECT source, bucket, t | (t >> 16) AS t FROM s4),
         |s6 AS (SELECT source, bucket, t | (t >> 32) AS t FROM s5),
         |reg AS (SELECT source, bucket, MAX(51 - bit_count(t)) AS reg FROM s6 GROUP BY 1, 2),
         |single AS (SELECT source,
         |             SUM(1::BIGINT << (52 - reg)) + ($hllM - COUNT(*)) * (1::BIGINT << 52) AS st
         |           FROM reg GROUP BY 1),
         |srcs AS (SELECT DISTINCT source FROM reg),
         |pairs AS (SELECT a.source AS sa, b.source AS sb FROM srcs a, srcs b
         |          WHERE a.source < b.source),
         |u AS (SELECT sa, sb, bucket, MAX(reg) AS reg
         |      FROM (SELECT sa, sb, sa AS source FROM pairs
         |            UNION ALL SELECT sa, sb, sb FROM pairs) m
         |      JOIN reg USING (source) GROUP BY 1, 2, 3),
         |us AS (SELECT sa, sb,
         |         SUM(1::BIGINT << (52 - reg)) + ($hllM - COUNT(*)) * (1::BIGINT << 52) AS ust
         |       FROM u GROUP BY 1, 2),
         |ex AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS exact_inter
         |       FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
         |SELECT p.sa, p.sb,
         |  floor($hllK / CAST(ja.st AS DOUBLE) * 1000 + 0.5) / 1000 AS ndv_a,
         |  floor($hllK / CAST(jb.st AS DOUBLE) * 1000 + 0.5) / 1000 AS ndv_b,
         |  floor($hllK / CAST(us.ust AS DOUBLE) * 1000 + 0.5) / 1000 AS ndv_union,
         |  floor(($hllK / CAST(ja.st AS DOUBLE) + $hllK / CAST(jb.st AS DOUBLE)
         |         - $hllK / CAST(us.ust AS DOUBLE)) * 1000 + 0.5) / 1000 AS est_inter,
         |  COALESCE(ex.exact_inter, 0) AS exact_inter
         |FROM pairs p
         |JOIN single ja ON ja.source = p.sa
         |JOIN single jb ON jb.source = p.sb
         |JOIN us ON us.sa = p.sa AND us.sb = p.sb
         |LEFT JOIN ex ON ex.sa = p.sa AND ex.sb = p.sb
         |ORDER BY p.sa, p.sb""".stripMargin,
    "x115_cms_joinsize" -> {
      def bucketSql(tokExpr: String) =
        s"CAST(('0x' || substring(md5($tokExpr || '#' || CAST(rr.r AS VARCHAR)), 1, 15)) AS BIGINT) % $cmsW"
      s"""WITH ta AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE source = 'src0'),
         |tb AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE source = 'src1'),
         |ga AS (SELECT r, bucket, COUNT(*) AS n FROM (
         |  SELECT rr.r, ${bucketSql("ta.tok")} AS bucket
         |  FROM ta, (SELECT unnest(range(0, $cmsD)) AS r) rr) GROUP BY 1, 2),
         |gb AS (SELECT r, bucket, COUNT(*) AS n FROM (
         |  SELECT rr.r, ${bucketSql("tb.tok")} AS bucket
         |  FROM tb, (SELECT unnest(range(0, $cmsD)) AS r) rr) GROUP BY 1, 2),
         |ip AS (SELECT ga.r, CAST(SUM(ga.n * gb.n) AS BIGINT) AS ip
         |       FROM ga JOIN gb ON gb.r = ga.r AND gb.bucket = ga.bucket GROUP BY 1),
         |est AS (SELECT MIN(ip) AS est_pairs FROM ip),
         |exa AS (SELECT CAST(COALESCE(SUM(ca.na * cb.nb), 0) AS BIGINT) AS exact_pairs FROM
         |  (SELECT tok, COUNT(*) AS na FROM ta GROUP BY 1) ca
         |  JOIN (SELECT tok, COUNT(*) AS nb FROM tb GROUP BY 1) cb USING (tok))
         |SELECT est_pairs, exact_pairs,
         |  floor(CAST(est_pairs - exact_pairs AS DOUBLE) / exact_pairs * 100 * 1000 + 0.5) / 1000 AS over_pct
         |FROM est, exa""".stripMargin
    },
    "x105_countmin" -> {
      def bucketSql(tokExpr: String) =
        s"CAST(('0x' || substring(md5($tokExpr || '#' || CAST(rr.r AS VARCHAR)), 1, 15)) AS BIGINT) % $cmsW"
      s"""WITH g AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |b AS (
         |  SELECT g.tok, rr.r, ${bucketSql("g.tok")} AS bucket
         |  FROM g, (SELECT unnest(range(0, $cmsD)) AS r) rr),
         |sk AS (SELECT r, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2),
         |ex AS (SELECT tok, COUNT(*) AS exact_n FROM g GROUP BY tok
         |       ORDER BY exact_n DESC, tok LIMIT 20),
         |pb AS (
         |  SELECT ex.tok, ex.exact_n, rr.r, ${bucketSql("ex.tok")} AS bucket
         |  FROM ex, (SELECT unnest(range(0, $cmsD)) AS r) rr),
         |est AS (
         |  SELECT pb.tok, pb.exact_n, MIN(sk.n) AS est_n
         |  FROM pb JOIN sk ON sk.r = pb.r AND sk.bucket = pb.bucket
         |  GROUP BY 1, 2)
         |SELECT tok, exact_n, est_n, est_n - exact_n AS overcount
         |FROM est ORDER BY exact_n DESC, tok""".stripMargin
    },
    "x81_heavy_hitters" ->
      """WITH g AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT COUNT(*) AS total FROM g),
        |c AS (SELECT tok, COUNT(*) AS n_occ FROM g GROUP BY tok)
        |SELECT tok, n_occ,
        |  floor(n_occ / CAST(t.total AS DOUBLE) * 1000000 + 0.5) / 1000000 AS freq
        |FROM c, t WHERE n_occ > t.total / 32.0
        |ORDER BY n_occ DESC, tok""".stripMargin,
    "x60_udf_vowels" ->
      """SELECT lang, COUNT(*) AS docs,
        |CAST(SUM(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT) AS n_vowels
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x61_udaf_topk" ->
      """SELECT c_mktsegment, CAST(rn AS BIGINT) AS rn, o_orderkey, ROUND(o_totalprice,2) AS price FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,
    "x62_udtf_bigrams" ->
      """WITH bg AS (
        |  SELECT lang, UNNEST(list_transform(range(1, len(string_split(text,' '))),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bigram
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_bigrams, COUNT(DISTINCT bigram) AS n_distinct
        |FROM bg GROUP BY lang ORDER BY lang""".stripMargin)
}
