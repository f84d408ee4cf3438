package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.Tables.PinOps

/** North-star multimodal-column operators (SURVEY §2.2): opaque binary
  * payloads + typed metadata, with decode/feature-extract as per-partition
  * batch functions.
  *
  * The container has no image/audio codecs, so `decode` is a clearly-marked
  * deterministic STUB (derives "pixel" stats from the raw bytes). Everything
  * around it — the binary column, the metadata struct schema, the
  * mapPartitions batch shape, the partitioning — is the real plumbing a
  * decode-UDF would run in at 100 TB (one task per input split, codec state
  * initialized once per partition, not per row).
  */
object MultimodalQueries {
  import CoreQueries.Q

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("mean_cp", DoubleType)))

  /** STUB decoder: stands in for an image codec. Deterministic function of
    * the payload so results are stable and oracle-checkable. The "pixel
    * mean" averages the decoded string's code points over the CHARACTER
    * count (not bytes) so the DuckDB twin (ascii(text[i]) over length(text))
    * computes the identical value for non-ASCII payloads too; dims derive
    * from the byte length. Empty payloads decode to 0.0. */
  private def fakeDecode(bytes: Array[Byte]): (Long, Long, Double) = {
    val n = bytes.length.toLong
    val width = 64L + (n % 577L)       // fake dims derived from payload size
    val height = 64L + (n % 331L)
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    var sum = 0L
    var count = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sum += cp
      count += 1
      i += Character.charCount(cp)
    }
    val mean = if (count == 0) 0.0 else sum.toDouble / count.toDouble
    (width, height, mean)
  }

  /** x50 — binary payload + metadata extraction through a per-partition
    * batch decode (the mapInPandas analog in Scala: mapPartitions, one codec
    * init per task). Payload = utf-8 bytes of `text` standing in for image
    * bytes. */
  val x50: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    implicit val enc = RowEncoder.encoderFor(mediaSchema)
    docs.mapPartitions { rows =>
      // per-partition "codec" init happens here (once per task)
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val (w, h, m) = fakeDecode(payload)
        // round half-away-from-zero on positive mean — matches DuckDB ROUND
        Row(id, payload.length.toLong, w, h, math.round(m * 100).toDouble / 100)
      }
    }.orderBy(col("doc_id")).limit(200)
  }

  /** x51 — metadata-only pushdown path: operating on typed metadata columns
    * must NOT deserialize the payload (column pruning keeps the binary out of
    * the scan — asserted in the spec via ReadSchema). */
  val x51: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_media"), sum(col("n_chars")).cast("long").as("total_bytes"))
      .orderBy(col("source"))

  /** x52 — resize planning: aspect-preserving fit of the source dims into a
    * 224×224 budget. Dims derive from the TYPED METADATA column (`n_chars`
    * standing in for stored width/height — real media tables carry dims as
    * metadata exactly so planning never decodes), so the query is pure
    * integer column arithmetic: whole-stage codegen, no UDF, and the payload
    * column is pruned from the scan (asserted in OperatorSpec, like x51).
    * At 100 TB the resize *plan* (output dims + scale factor) is what a
    * batch scheduler computes first to size decode work, so it must run at
    * metadata cost, not payload cost; the pixel-resample kernel itself is
    * the codec swap-in at the x50 seam. scale_bp = scale factor in basis
    * points (224/max_dim * 10⁴). */
  val x52: Q = (s, d) => {
    val nb = col("n_chars") // typed metadata column — payload stays pruned
    val w = lit(64L) + nb % 577L
    val h = lit(64L) + nb % 331L
    val m = greatest(w, h)
    t(s, d, "documents")
      .select(col("doc_id"), w.as("w"), h.as("h"),
        greatest(lit(1L), floor(w * 224 / m).cast("long")).as("out_w"),
        greatest(lit(1L), floor(h * 224 / m).cast("long")).as("out_h"),
        floor(lit(2240000L) / m).cast("long").as("scale_bp"))
      .orderBy(col("doc_id"))
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", LongType),
    StructField("frame_chars", LongType),
    StructField("frame_cp_sum", LongType)))

  /** x53 — frame sampling: treat the payload as a "video" of 64-codepoint
    * frames and emit every 2nd frame's stats (the strided-sampling shape of
    * video preprocessing: decode only the sampled frames). Same
    * per-partition batch kernel as x50 — one pass over the payload per doc,
    * codec state per task — and exact-integer outputs so the DuckDB twin
    * hash-matches with no rounding contract. Output is bounded by
    * docs × frames/stride, and the kernel is embarrassingly parallel: no
    * shuffle until the presentation sort. */
  val x53: Q = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    implicit val enc = RowEncoder.encoderFor(frameSchema)
    docs.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var i = 0 // UTF-16 index; frames counted in code points like DuckDB length()
        var fIdx = 0L
        while (i < text.length) {
          var cnt = 0L
          var sum = 0L
          while (i < text.length && cnt < 64) {
            val cp = text.codePointAt(i)
            sum += cp
            cnt += 1
            i += Character.charCount(cp)
          }
          if (fIdx % 2 == 0) out += Row(id, fIdx, cnt, sum)
          fIdx += 1
        }
        out
      }
    }.orderBy(col("doc_id"), col("frame_idx"))
  }

  val featSchema: StructType = StructType(
    StructField("doc_id", LongType) +: (0 until 8).map(k => StructField(s"b$k", LongType)))

  /** x54 — feature extraction: a fixed-width feature vector per item (here
    * an 8-bin codepoint histogram standing in for an image-feature net).
    * One row in, one fixed-width vector out — the exact batch shape a real
    * extractor (mapInPandas / ONNX batch) runs in; per-partition batching
    * keeps model init per task. Bins are exact counts (bigint) so the twin
    * hash-matches without float contracts. */
  val x54: Q = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    implicit val enc = RowEncoder.encoderFor(featSchema)
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val bins = new Array[Long](8)
        var i = 0
        while (i < text.length) {
          val cp = text.codePointAt(i)
          bins(cp % 8) += 1
          i += Character.charCount(cp)
        }
        Row.fromSeq(id +: bins.toSeq)
      }
    }.orderBy(col("doc_id"))
  }

  /** x126 dHash geometry: G cells → G−1 difference bits; candidates by
    * RADIUS-τ NEIGHBOR ENUMERATION — every hash joins against its 137
    * ≤2-bit-flip variants (1 + 16 + C(16,2)), the standard trick for
    * SHORT perceptual hashes: a pair at hamming d ≤ τ matches on exactly
    * ONE mask (the xor itself), so the join output IS the verified pair
    * set — zero false candidates, no dedup pass. (Band buckets — the
    * x42 scheme — need band values with entropy; 4-bit bands over a
    * 16-bit space collapse to 16-value buckets and go quadratic at
    * corpus scale: measured 23.3 s → 3.3 s at sf1 on this switch.) */
  private[graft] val phG = 17
  private[graft] val phTau = 2
  private[graft] val phMasks: Seq[Long] =
    Seq(0L) ++ (0 until phG - 1).map(1L << _) ++
      (for { i <- 0 until phG - 1; j <- i + 1 until phG - 1 } yield (1L << i) | (1L << j))

  /** x126 — perceptual-hash near-dup detection for media columns (E126):
    * the dedup leg of the multimodal family — a difference hash (dHash)
    * computed over the DECODED payload rather than its bytes, so
    * re-encoded/slightly-edited media that byte-level x40 can never match
    * still collide. The codec-less stand-in "luma grid" is per-cell sums
    * of token lengths over positions mod G (LOCALITY by construction: a
    * small payload edit perturbs one cell, flips ≤2 adjacent difference
    * bits — exactly the property that makes dHash perceptual); bit i =
    * cell(i) > cell(i+1), a real decoder would produce the 8×9 luma grid
    * and everything downstream is unchanged. Candidates come from
    * radius-2 mask-variant enumeration: each hash emits its 137
    * ≤2-bit-flip neighbors (the geometry note above — band buckets were
    * abandoned as quadratic) and pairs meet on an exact-hash equi-join,
    * verified by exact hamming ≤ 2 via codegen'd bit_count(xor).
    *
    * 100 TB shape: hash computation is map-only over the decode seam
    * (x50's per-partition batch shape); the variant expansion is a fixed
    * 137× of the HASH table (16-byte rows, not payloads), the join is a
    * plain equi-join on the hash value whose output is exactly the
    * ≤τ-hamming pair set; at the duplicate-flood shape (sf1's 10-way
    * copies) identical payloads meet via the zero mask at hamming 0. */
  val x126: Q = (s, d) => {
    val docs = graft.Tables.spread(t(s, d, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val cellAggs = (0 until phG).map { j =>
      sum(when(pmod(col("pos"), lit(phG)) === j, col("l")).otherwise(0L)).as(s"c$j")
    }
    val cells = docs
      .select(col("doc_id"), posexplode(transform(col("toks"), t0 => length(t0))).as(Seq("pos", "l")))
      .groupBy(col("doc_id")).agg(cellAggs.head, cellAggs.tail: _*)
    val hash = (0 until phG - 1).map { j =>
      when(col(s"c$j") > col(s"c${j + 1}"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val hashed = cells.select(col("doc_id"), hash.as("ph"))
    // Exact-duplicate collapse (x151's flood posture, commit b761ebe):
    // hamming depends only on the dHash VALUE, so identical hashes — the
    // duplicate-flood shape: identical payloads ⇒ identical dHash —
    // collapse to one representative per value BEFORE the 137-way variant
    // expansion. Join work drops from (k·n)² to n² + output under a k-way
    // flood (sf10's 100-way copies measured 164× pre-collapse). Pairs
    // expand loss-free: within-group pairs are hamming 0 by identity,
    // cross-group pairs inherit the rep pair's distance; the zero mask now
    // only self-matches (same group) and is dropped by ra < rb, its pairs
    // re-emitted exactly by the within-group expansion.
    val groups = hashed.groupBy(col("ph"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .withColumn("rep", col("ids").getItem(0))
      // referenced by the variant expansion + both id-expansion joins +
      // withinPairs — materialized once (r19, guide §2.4); the dHash cell
      // agg (per-token posexplode + G conditional sums) ran per reference
      .pin
    val reps = groups.select(col("rep"), col("ph"))
    val variants = reps.select(col("rep").as("ra"), col("ph").as("pa"),
      explode(typedLit(phMasks)).as("m"))
      .select(col("ra"), col("pa"), col("pa").bitwiseXOR(col("m")).as("vh"))
    val repPairs = variants
      .join(reps.select(col("rep").as("rb"), col("ph").as("pb")),
        col("vh") === col("pb"))
      .filter(col("ra") < col("rb"))
      .select(col("ra"), col("rb"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long").as("hamming"))
    val cross = repPairs
      .join(groups.select(col("rep").as("ra"), col("ids").as("ia")), Seq("ra"))
      .join(groups.select(col("rep").as("rb"), col("ids").as("ib")), Seq("rb"))
      .select(explode(col("ia")).as("x"), col("ib"), col("hamming"))
      .select(col("x"), explode(col("ib")).as("y"), col("hamming"))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col("hamming"))
    val within = DedupQueries.withinPairs(groups)
      .select(col("a").as("a_id"), col("b").as("b_id"), lit(0L).as("hamming"))
    cross.unionAll(within)
      .orderBy(col("a_id"), col("b_id"))
  }

  val queries: Map[String, Q] = Map(
    "x126_phash_neardup" -> x126,
    "x50_media_decode" -> x50,
    "x51_media_metadata" -> x51,
    "x52_media_resize" -> x52,
    "x53_frame_sample" -> x53,
    "x54_media_features" -> x54)

  /** GENERATED x126 twin: identical cell sums / difference bits / band
    * candidates / hamming verify — emitted from the same constants. */
  private def phashOracle: String = {
    val cells = (0 until phG).map { j =>
      s"""CAST(list_aggregate(list_transform(range(1, len(sp) + 1),
         |      i -> CASE WHEN (i - 1) % $phG = $j THEN len(sp[i]) ELSE 0 END), 'sum')
         |    AS BIGINT) AS c$j""".stripMargin
    }.mkString(",\n  ")
    val hashExpr = (0 until phG - 1).map { j =>
      s"(CASE WHEN c$j > c${j + 1} THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val maskList = phMasks.mkString("[", ", ", "]")
    s"""WITH sp0 AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
       |cells AS (SELECT doc_id,
       |  $cells
       |FROM sp0),
       |hashed AS (SELECT doc_id, $hashExpr AS ph FROM cells),
       |variants AS (
       |  SELECT doc_id AS a_id, ph AS pa, xor(ph, m.m) AS vh
       |  FROM hashed, (SELECT unnest($maskList) AS m) m)
       |SELECT v.a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(v.pa, b.ph)) AS BIGINT) AS hamming
       |FROM variants v JOIN hashed b ON b.ph = v.vh AND v.a_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "x126_phash_neardup" -> phashOracle,
    // the stub decode is pure arithmetic over octet_length => SQL-expressible
    // floor(x*100+0.5)/100 instead of ROUND: the mean is rational, and exact
    // .005 ties round differently in DuckDB (std::round on the raw double)
    // vs Spark/Scala — floor-based half-up is bit-identical in both.
    "x50_media_decode" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |CAST(64 + strlen(text) % 577 AS BIGINT) AS width,
        |CAST(64 + strlen(text) % 331 AS BIGINT) AS height,
        |CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |floor(CAST(list_aggregate(list_transform(range(1, length(text)+1),
        |  i -> ascii(text[i])), 'sum') AS DOUBLE) / length(text) * 100 + 0.5) / 100 END AS mean_cp
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,
    "x51_media_metadata" ->
      """SELECT source, COUNT(*) AS n_media, CAST(SUM(n_chars) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x52_media_resize" ->
      """SELECT doc_id, w, h,
        |GREATEST(1, CAST(floor(w*224/GREATEST(w,h)) AS BIGINT)) AS out_w,
        |GREATEST(1, CAST(floor(h*224/GREATEST(w,h)) AS BIGINT)) AS out_h,
        |CAST(floor(2240000/GREATEST(w,h)) AS BIGINT) AS scale_bp
        |FROM (SELECT doc_id, CAST(64 + n_chars % 577 AS BIGINT) AS w,
        |             CAST(64 + n_chars % 331 AS BIGINT) AS h FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "x53_frame_sample" ->
      """SELECT doc_id, f AS frame_idx,
        |CAST(least((f+1)*64, length(text)) - f*64 AS BIGINT) AS frame_chars,
        |CAST(list_aggregate(list_transform(
        |  range(CAST(f*64+1 AS BIGINT), CAST(least((f+1)*64, length(text))+1 AS BIGINT)),
        |  i -> ascii(text[i])), 'sum') AS BIGINT) AS frame_cp_sum
        |FROM (SELECT doc_id, text,
        |      unnest(range(0, CAST(ceil(length(text)/64.0) AS BIGINT))) AS f FROM documents)
        |WHERE f % 2 = 0 ORDER BY doc_id, frame_idx""".stripMargin,
    "x54_media_features" ->
      ("SELECT doc_id, " +
        (0 until 8).map(k =>
          s"CAST(length(list_filter(cps, x -> x % 8 = $k)) AS BIGINT) AS b$k").mkString(", ") +
        " FROM (SELECT doc_id, list_transform(range(1, length(text)+1)," +
        " i -> ascii(text[i])) AS cps FROM documents) ORDER BY doc_id"))
}
