package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Tier-1 unit tests for batch operators + plan-shape assertions (the 100 TB
  * design checks: broadcasts are broadcast, prunes prune, top-k never sorts
  * globally). */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("flagship entry returns rows on a session the engine did not configure") {
    // A driver passes its own session. The generator writes events.ts as
    // TIMESTAMP(NANOS) or as tz-less micros; such a session reads neither
    // as the queries need without the engine confs. The testdata holds one
    // form, so a NANOS copy of two events is read through it afterwards.
    val s = spark.newSession()
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    s.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
    assert(SparkEntry.entry(s).count() > 0)

    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val nanos = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val dir = tmpDir("ts-nanos")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(nanos).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(nanos)
    Seq(1L -> 1700000000123456789L, 2L -> 1700000001999999999L)
      .foreach { case (id, ns) => w.write(rows.newGroup().append("event_id", id).append("ts", ns)) }
    w.close()
    val micros = Tables.t(s, dir, "events").orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(micros.toSeq == Seq(1700000000123456L, 1700000001999999L))
  }

  test("every declared oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("q11 dimension joins plan as BroadcastHashJoin (no shuffle of the fact side)") {
    val p = plan(JoinQueries.q11(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dimension join must not sort-merge")
  }

  test("q05 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(CoreQueries.q05(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x141: skyline is a mutually-non-dominating frontier covering every excluded part") {
    def dom(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)
    val all = Tables.t(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2))))
    val sky = WindowQueries.x141(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2))))
    assert(sky.nonEmpty)
    for ((ka, a) <- sky; (kb, b) <- sky if ka != kb)
      assert(!dom(a, b), s"$ka dominates $kb inside the frontier")
    val skyIds = sky.map(_._1).toSet
    for ((k, p) <- all if !skyIds.contains(k))
      assert(sky.exists { case (_, sp) => dom(sp, p) }, s"excluded $k undominated")
  }

  test("x138: index serving is partition-pruned to the phrase buckets and matches x112 exactly") {
    val ixDf = TextQueries.x138(spark, sfDir)
    val p = plan(ixDf)
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*tb[^\\]]*\\].*"),
      "serving scan must prune to the phrase terms' tb partitions: " + p)
    assert(!p.contains("text#"), "serving must never read the text column: " + p)
    val served = ixDf.collect().map(_.toString).toSeq
    val fresh = TextQueries.x112(spark, sfDir).collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == fresh, "index serving must equal fresh compute")
  }

  test("x34 BM25: corpus stats broadcast, top-k is TakeOrderedAndProject") {
    val p = plan(TextQueries.x34(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "single-row stats must broadcast, never shuffle the corpus: " + p)
    val rows = TextQueries.x34(spark, sfDir).collect()
    val scores = rows.map(_.getDouble(2))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)), "descending scores")
  }

  test("x37 vocab: top-V plans as TakeOrderedAndProject over a partial-agg count") {
    val p = plan(TextQueries.x37(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "token counts must map-side combine: " + p)
  }

  test("x25/x26/x27 pair generation: spread fan-out present, no cartesian product") {
    Seq(AdvancedQueries.x25(spark, sfDir), AdvancedQueries.x26(spark, sfDir),
        AdvancedQueries.x27(spark, sfDir)).foreach { df =>
      val p = plan(df)
      // the compute-proportional fan-out that keeps pair generation off a
      // single scan split (the 37 s x26 episode at sf1)
      assert(p.contains("Exchange RoundRobinPartitioning") || p.contains("REPARTITION"),
        "spread repartition missing: " + p)
      assert(!p.contains("CartesianProduct"), "pair generation must be keyed: " + p)
    }
  }

  test("x51 metadata query prunes the text column from the scan") {
    val p = plan(MultimodalQueries.x51(spark, sfDir))
    assert(p.contains("ReadSchema") && !p.contains("text"), p)
  }

  test("x52 resize planning is metadata-only: payload pruned, no UDF, codegen") {
    val df = MultimodalQueries.x52(spark, sfDir)
    val p = plan(df)
    assert(p.contains("ReadSchema") && !p.contains("text"), p)
    // no UDF/mapPartitions barrier anywhere: pure Project over the scan
    assert(!p.contains("ScalaUDF") && !p.contains("MapPartitions"), p)
    // aspect ratio is preserved within integer truncation: max out dim = 224
    val bad = df.filter(greatest($"out_w", $"out_h") =!= 224).count()
    assert(bad == 0, "fit-to-budget must scale the longest side to exactly 224")
  }

  test("x53 frame sampling covers every sampled frame exactly once, strided") {
    val rows = MultimodalQueries.x53(spark, sfDir)
      .select($"doc_id", $"frame_idx", $"frame_chars").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 % 2 == 0), "only even frames are sampled")
    assert(rows.forall(r => r._3 > 0 && r._3 <= 64), "frames are 1..64 codepoints")
    // within a doc: full frames except possibly the last sampled one
    rows.groupBy(_._1).foreach { case (_, fs) =>
      val sorted = fs.sortBy(_._2)
      assert(sorted.init.forall(_._3 == 64), "only the final frame may be short")
    }
  }

  test("x54 feature bins partition the document exactly (counts sum to n_chars)") {
    val feats = MultimodalQueries.x54(spark, sfDir)
    val binSum = (0 until 8).map(k => col(s"b$k")).reduce(_ + _)
    val docs = graft.Tables.t(spark, sfDir, "documents").select($"doc_id", $"n_chars")
    val mismatches = feats.join(docs, "doc_id")
      .filter(binSum =!= $"n_chars").count()
    assert(mismatches == 0, "8-bin histogram must partition the codepoints")
  }

  test("filter pushdown reaches the parquet scan") {
    val df = graft.Tables.t(spark, sfDir, "orders").filter($"o_custkey" === 7L).select($"o_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7)"), p)
  }

  test("q01 aggregates partially before the exchange (two-phase agg)") {
    val p = plan(CoreQueries.q01(spark, sfDir))
    // partial agg appears below the shuffle: two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("MinHash LSH finds planted near-duplicates with high similarity") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    // doc 2 = doc 1 with one token changed; doc 3 unrelated
    val near = ((1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i")).mkString(" ")
    val other = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val sh = docs.select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", array_distinct(DedupQueries.shingles3($"toks")).as("sh"))
    val pairs = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
        (size(array_intersect($"a.sh", $"b.sh")) / size(array_union($"a.sh", $"b.sh"))
          .cast("double")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) > 0.85) // 3 shingles affected out of 58
    assert(pairs((1L, 3L)) == 0.0)
    assert(pairs((2L, 3L)) == 0.0)
  }

  test("x41 candidates at sf0.001 include every consecutive pair with jaccard >= 0.5") {
    // ground truth from the oracle-checked exact query
    val truth = DedupQueries.x43(spark, sfDir)
      .filter($"jaccard" >= 0.5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val found = DedupQueries.x41(spark, sfDir)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val missed = truth.diff(found)
    assert(missed.isEmpty, s"minhash missed high-jaccard pairs: $missed")
  }

  test("SimHash of identical texts is identical; hamming small for near-dups") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i")).mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near)).toDF("doc_id", "text")
      .select($"doc_id",
        transform(split($"text", " "), w => xxhash64(w)).as("th"))
      .select($"doc_id", DedupQueries.simhashFromHashes($"th").as("s"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) <= 16)
  }

  test("cosine: self-similarity 1, symmetry, and LSH recall vs brute force") {
    val e = graft.Tables.t(spark, sfDir, "embeddings")
    val self = e.limit(1).select(
      round(VectorQueries.cosine($"embedding", $"embedding"), 6).as("c"))
      .as[Double].head()
    assert(self == 1.0)
    val brute = VectorQueries.x20(spark, sfDir).select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val lsh = VectorQueries.x21(spark, sfDir).select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "LSH must not invent pairs")
    // 8-bit single-table LSH on near-orthogonal vectors: recall is partial by
    // design; just require it finds something when brute force does
    if (brute.nonEmpty) assert(lsh.nonEmpty)
  }

  test("PQ: trained encode beats the seeded codebooks; ADC ranks the query first") {
    val enc = VectorQueries.x55(spark, sfDir).collect()
    assert(enc.length == graft.Tables.t(spark, sfDir, "embeddings").count())
    // distortion is a squared distance: nonnegative everywhere
    enc.foreach(r => assert(r.getDouble(2) >= 0.0, s"vec ${r.getLong(0)} distortion"))
    // the trained codebooks must beat the seed convention they start from:
    // total x55 distortion <= an independent Scala recompute of the SEEDED
    // encode (argmin over seed codewords per subspace)
    val allVecs = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val seedCbs = VectorQueries.seedCodebooks(graft.Tables.t(spark, sfDir, "embeddings"))
    val seededTotal = allVecs.map { case (_, v) =>
      (0 until 8).map { i =>
        val sv = v.slice(i * 8, (i + 1) * 8)
        seedCbs(i).map { case (c, _) =>
          sv.zip(c).foldLeft(0.0) { case (a, (x, cc)) =>
            val t = x.toDouble - cc; a + t * t }
        }.min
      }.sum
    }.sum
    val trainedTotal = enc.map(_.getDouble(2)).sum
    assert(trainedTotal <= seededTotal,
      s"trained distortion $trainedTotal > seeded $seededTotal")
    // every packed code stays in the 32-bit range of 8 x 4-bit fields
    assert(enc.forall(r => r.getLong(1) >= 0 && r.getLong(1) < (1L << 32)))

    val adc = VectorQueries.x56(spark, sfDir).collect()
    assert(adc.length == 10)
    // the query vector's own code has ADC distance = its quantization
    // distortion floor -> vec 0 must rank first with adist ~ 0 vs itself
    assert(adc.head.getLong(0) == 0L, s"ADC top-1 is ${adc.head.getLong(0)}")
    // ADC sanity on near-orthogonal noise vectors: 4-bit codes can't pin
    // the exact top-10 (and the seeded codebooks' zero-distortion encode of
    // vecs 0..15 used to inflate the overlap), so assert what ADC actually
    // promises — its top-10 are genuinely closer to the query than the
    // corpus average, by a wide margin, and at least one true top-10 hit
    val vecs = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val q = vecs.find(_._1 == 0L).get._2
    val trueDist = vecs.map { case (id, v) =>
      id -> v.zip(q).foldLeft(0.0) { case (a, (x, y)) =>
        val t = x.toDouble - y.toDouble; a + t * t
      }
    }.toMap
    val exact = trueDist.toSeq.sortBy { case (id, dist) => (dist, id) }
      .take(10).map(_._1).toSet
    val hits = adc.map(_.getLong(0)).count(exact.contains)
    assert(hits >= 1, s"ADC found no true top-10 member: $hits/10")
    val adcMean = adc.map(r => trueDist(r.getLong(0))).sum / adc.length
    val corpusMean = trueDist.filterNot(_._1 == 0L).values.sum / (trueDist.size - 1)
    assert(adcMean < 0.8 * corpusMean,
      s"ADC top-10 not closer than average: $adcMean vs corpus $corpusMean")
  }

  test("x58 LM score: reference-slice docs have zero OOV, scores well-formed, LM discriminates") {
    val r = LmQueries.x58(spark, sfDir).collect()
    assert(r.length == 500 && r.map(_.getLong(0)).distinct.length == 500)
    // the same md5 bucketing the operator (and x70/x71) uses
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    r.foreach { row =>
      val (id, nBi, nOov) = (row.getLong(0), row.getLong(1), row.getLong(2))
      assert(nOov <= nBi && row.getDouble(3) >= 0.0 && row.getDouble(3) <= 1.0)
      assert(row.getDouble(4) > 0.0 && row.getDouble(4) < 1.0)
      // every bigram of an LM-training doc is in the LM by construction
      if (bucket(id) < 5000) assert(nOov == 0L, s"ref doc $id has OOV $nOov")
    }
    // docs outside the reference slice score lower on average (the filter signal)
    val (refP, outP) = r.partition(row => bucket(row.getLong(0)) < 5000)
    def mean(a: Array[org.apache.spark.sql.Row]) = a.map(_.getDouble(4)).sum / a.length
    assert(mean(refP) > mean(outP), "LM should favor its own training slice")
  }

  test("x65 source novelty: first source fully novel, coverage accumulates to the corpus total") {
    val r = NoveltyQueries.x65(spark, sfDir).collect()
    assert(r.nonEmpty)
    // lexicographically-first source has no earlier source: all grams new
    assert(r.head.getLong(1) == r.head.getLong(2) && r.head.getDouble(4) == 1.0)
    // cum_cover is nondecreasing and ends at the sum of contributions
    val cums = r.map(_.getLong(3))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    assert(cums.last == r.map(_.getLong(2)).sum)
  }

  test("x66 doc novelty: doc 0 fully novel, exact-dup copies score zero") {
    val nov = NoveltyQueries.x66(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov(0L) == 1.0, s"doc 0 novelty ${nov(0L)}")
    assert(nov.values.forall(v => v >= 0.0 && v <= 1.0))
    // grams ARE shared across this corpus: somebody scores below 1
    assert(nov.values.exists(_ < 1.0), "no shared grams at all is implausible")
    // a verbatim copy of an earlier doc introduces nothing: x40's keeper is
    // min(doc_id) per content group, so every other member scores 0
    // (sf0.001 has no exact dups — the invariant is exercised wherever
    // dup groups exist, e.g. the driver's sf0.01 corpus)
    val keepers = DedupQueries.x40(spark, sfDir).collect()
      .filter(_.getLong(2) > 1).map(_.getLong(1)).toSet
    if (keepers.nonEmpty) {
      val dupAll = graft.Tables.t(spark, sfDir, "documents")
        .groupBy(md5(col("text"))).agg(collect_list(col("doc_id")).as("ids"))
        .filter(size(col("ids")) > 1).collect()
        .flatMap(_.getSeq[Long](1))
      (dupAll.toSet -- keepers).foreach(id =>
        assert(nov(id) == 0.0, s"copy $id novelty ${nov(id)}"))
    }
  }

  test("x68 tf-idf keywords: 3 ranked terms per doc, scores consistent with tf*N/df") {
    val r = TextQueries.x68(spark, sfDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getLong(3), x.getLong(4), x.getDouble(5)))
    val nDocs = graft.Tables.t(spark, sfDir, "documents").count()
    assert(r.length == 3 * nDocs)
    r.groupBy(_._1).foreach { case (doc, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L), s"doc $doc ranks")
      val byRank = rows.sortBy(_._2).map(_._6)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"doc $doc tfidf not nonincreasing: ${byRank.mkString(",")}")
    }
    // spot-check the score arithmetic on one row
    val (_, _, _, tf0, df0, w0) = r.head
    assert(math.abs(w0 - math.floor(tf0.toDouble * nDocs / df0 * 10000 + 0.5) / 10000) < 1e-9)
  }

  test("x69 embedding outliers: distances nonnegative, cluster means consistent, flag matches rule") {
    val r = operators.AdvancedQueries.queries("x69_embed_outliers")(spark, sfDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getDouble(3), x.getBoolean(4)))
    assert(r.length == graft.Tables.t(spark, sfDir, "embeddings").count())
    r.foreach { case (vid, _, d2, m, _) =>
      assert(d2 >= 0.0 && m > 0.0, s"vec $vid d2=$d2 mean=$m")
    }
    // cl_mean is the fix-point mean of the cluster's d2 values (recompute)
    r.groupBy(_._2).foreach { case (cid, rows) =>
      val want = math.floor(rows.map(_._3).sum / rows.length * 1e6 + 0.5) / 1e6
      rows.foreach { case (vid, _, _, m, _) =>
        assert(math.abs(m - want) < 2e-6, s"vec $vid cid $cid mean $m want $want") }
    }
    // flag agrees with the 1.25x rule away from the rounding boundary
    r.filter { case (_, _, d2, m, _) => math.abs(d2 - 1.25 * m) > 1e-4 }
      .foreach { case (vid, _, d2, m, f) =>
        assert(f == d2 > 1.25 * m, s"vec $vid flag $f d2=$d2 mean=$m") }
  }

  test("within-pair explode streams a 1e4-copy flood with O(k) row footprint") {
    // VERDICT r13 #7: the collapsed-group pair expansion used to build the
    // full k(k-1)/2 struct array in ONE row (1e4 copies -> a ~5e7-struct
    // row) before exploding. The two-step form keeps the peak row at O(k)
    // and streams the k² as rows. This flood (a) asserts the k²-in-one-row
    // generator is gone from the plan and (b) runs the 1e4 flood end to end.
    val dir = tmpDir("flood")
    import spark.implicits._
    val dup = "the same exact text repeated in every copy of this flooded document"
    val docs = (0L until 10000L).map(i => (i, "en", dup)) ++ Seq(
      (10000L, "en", "a unique document sharing nothing with the flood at all"),
      (10001L, "en", "another entirely distinct text with its own words only"))
    docs.toDF("doc_id", "lang", "text")
      .repartition(8).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = DedupQueries.x42(spark, dir)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("flatten(transform"), "k²-in-one-row generator resurfaced")
    val got = q.collect()
    assert(got.length == 100, s"len=${got.length}")
    // top-100 by (hamming, a_id, b_id): all within-flood pairs (0, 1..100)
    assert(got.forall(_.getAs[Long]("hamming") == 0L))
    assert(got.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSeq ==
      (1L to 100L).map(b => (0L, b)), got.take(5).mkString(","))
  }

  test("x82 containment: planted subset doc scores 1.0 toward its superset, not back") {
    val dir = tmpDir("contain")
    import spark.implicits._
    val base = (0 until 30).map(i => s"w${i}a w${i}b w${i}c").mkString(" ")
    val superset = base + " " + (0 until 40).map(i => s"z${i}a z${i}b z${i}c").mkString(" ")
    Seq(
      (0L, "en", base),     // every 3-gram of doc 0 appears in doc 1
      (1L, "en", superset),
      (2L, "en", "totally different tokens sharing no grams with anything else at all"))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = DedupQueries.x82(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(4)).toMap
    assert(r.get((0L, 1L)).contains(1.0), s"subset→superset must score 1.0: $r")
    // the reverse direction dilutes below τ — asymmetry is the point
    assert(!r.contains((1L, 0L)), s"superset→subset must fall under τ: $r")
    assert(!r.keys.exists { case (a, b) => a == 2L || b == 2L }, s"doc 2 shares nothing: $r")
    // and on the real corpus every emitted pair respects the contract
    val real = DedupQueries.x82(spark, sfDir).collect()
    real.foreach { row =>
      assert(row.getLong(0) != row.getLong(1))
      assert(row.getDouble(4) >= 0.5 && row.getDouble(4) <= 1.0)
      assert(row.getLong(2) <= row.getLong(3), "inter cannot exceed a's gram count")
    }
  }

  test("x89 dup spans: planted copies, partial overlap, and short docs score exactly") {
    val dir = tmpDir("spans")
    import spark.implicits._
    val w = DedupQueries.spanW // 8
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")        // 13 windows
    Seq(
      (0L, "en", (1 to 20).map(i => s"u0t$i").mkString(" ")),    // all unique
      (1L, "en", shared),                                        // full copy
      (2L, "en", shared),                                        // full copy
      // doc 3 starts with doc 1's first w tokens → exactly ONE shared window
      (3L, "en", ((1 to w).map(i => s"s$i") ++ (1 to 12).map(i => s"u3t$i")).mkString(" ")),
      (4L, "en", "just five short words here".split(" ").take(5).mkString(" ")))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.x89(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(0L) == ((13L, 0L, 1L, 0.0)), s"unique doc: ${got(0L)}")
    assert(got(1L) == ((13L, 13L, 3L, 1.0)), s"full copy: ${got(1L)}")
    assert(got(2L) == ((13L, 13L, 3L, 1.0)), s"full copy: ${got(2L)}")
    // doc 3's first window rides in docs 1, 2 and 3 → max_df 3, 1/13 dup
    assert(got(3L) == ((13L, 1L, 3L, 0.0769)), s"partial overlap: ${got(3L)}")
    assert(got(4L) == ((1L, 0L, 1L, 0.0)), s"short doc, whole-text window: ${got(4L)}")
  }

  test("x90 span scrub: cuts exactly the duplicated-window token cover") {
    val dir = tmpDir("scrub")
    import spark.implicits._
    val w = DedupQueries.spanW
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val u0 = (1 to 20).map(i => s"u0t$i").mkString(" ")
    val d3kept = (1 to 12).map(i => s"u3t$i").mkString(" ")
    Seq(
      (0L, "en", u0),                                            // untouched
      (1L, "en", shared), (2L, "en", shared),                    // fully cut
      (3L, "en", ((1 to w).map(i => s"s$i") ++ (1 to 12).map(i => s"u3t$i")).mkString(" ")),
      (4L, "en", "short unique doc here now"))                   // < w toks, unique
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def h(s: String): Long = graft.functions.MinHash.base60(s.getBytes("UTF-8"))
    val got = DedupQueries.x90(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got(0L) == ((20L, 0L, 0.0, h(u0))), s"unique doc untouched: ${got(0L)}")
    assert(got(1L) == ((20L, 20L, 1.0, h(""))), s"full copy fully cut: ${got(1L)}")
    assert(got(2L) == ((20L, 20L, 1.0, h(""))), s"full copy fully cut: ${got(2L)}")
    // doc 3: only window 1 duplicated → tokens 1..w cut, the unique 12 kept
    assert(got(3L) == ((20L, 8L, 0.4, h(d3kept))), s"prefix cut only: ${got(3L)}")
    assert(got(4L)._2 == 0L && got(4L)._4 == h("short unique doc here now"),
      s"short unique doc untouched: ${got(4L)}")
  }

  test("x95 resample/LOCF: planted gaps carry forward, pre-first-obs hours stay null") {
    val dir = tmpDir("locf")
    import spark.implicits._
    def ts(h: Int, m: Int = 30) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // type A: obs in hours 0 and 3 (value 10, 40) → hours 1-2 are gaps
    // carrying 10.0; type B: first obs in hour 2 → hours 0-1 NULL-filled.
    // Hour 3 has TWO A-events (40, 41) → davg = 40.5 exactly.
    Seq(
      (1L, ts(0), 1L, "A", 10.0), (2L, ts(3, 10), 1L, "A", 40.0),
      (3L, ts(3, 20), 1L, "A", 41.0), (4L, ts(2), 2L, "B", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.TemporalQueries.x95(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1).substring(11, 13),
        r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == Seq(
      ("A", "00", 1L, 10.0, false),
      ("A", "01", 0L, 10.0, true),
      ("A", "02", 0L, 10.0, true),
      ("A", "03", 2L, 40.5, false),
      ("B", "00", 0L, null, true),
      ("B", "01", 0L, null, true),
      ("B", "02", 1L, 7.0, false),
      ("B", "03", 0L, 7.0, true)), s"got $got")
  }

  test("x96 fuzzy match: deletion-neighborhood blocking is complete for lev<=1") {
    val dir = tmpDir("fuzzy")
    import spark.implicits._
    // substitution (cat/cut), insertion (cat/cart), deletion (cat/ct),
    // exact duplicate (cat/cat -> dist 0), distance-2 negatives (cut/cart,
    // cart/ct), and an isolated name (dog)
    Seq((1L, "cat"), (2L, "cut"), (3L, "cart"), (4L, "ct"), (5L, "dog"), (6L, "cat"))
      .toDF("c_custkey", "c_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = JoinQueries.x96(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (1L, 6L, 0L),
      (2L, 4L, 1L), (2L, 6L, 1L), (3L, 6L, 1L), (4L, 6L, 1L)), s"got $got")
  }

  test("x97 funnel: out-of-order steps don't count, each stage gates the next") {
    val dir = tmpDir("funnel")
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    Seq(
      // user 1: full ordered funnel
      (1L, ts(1), 1L, "view", 1.0), (2L, ts(2), 1L, "click", 1.0), (3L, ts(3), 1L, "purchase", 1.0),
      // user 2: click BEFORE view — must stop at step 1 despite a purchase
      (4L, ts(1), 2L, "click", 1.0), (5L, ts(2), 2L, "view", 1.0), (6L, ts(3), 2L, "purchase", 1.0),
      // user 3: view then click, no purchase
      (7L, ts(1), 3L, "view", 1.0), (8L, ts(2), 3L, "click", 1.0),
      // user 4: purchase only — never enters the funnel
      (9L, ts(1), 4L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.TemporalQueries.x97(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // user 2's purchase follows their view, but step 2 (click after view)
    // never fired — the stage gate keeps them out of step 3
    assert(got == Seq((1L, "view", 3L), (2L, "click", 2L), (3L, "purchase", 1L)), s"got $got")
  }

  test("x98 cohort retention: first-seen week partitions users, offsets count weeks") {
    val dir = tmpDir("cohort")
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    Seq(
      (1L, ts(1), 10L, "view", 1.0),   // user 10: cohort Mon 01-01
      (2L, ts(2), 10L, "view", 1.0),   //   same week — offset 0 again
      (3L, ts(16), 10L, "view", 1.0),  //   week of 01-15 — offset 2
      (4L, ts(8), 11L, "view", 1.0))   // user 11: cohort Mon 01-08, offset 0
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.TemporalQueries.x98(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("2024-01-01", 0L, 1L, 2L),
      ("2024-01-01", 2L, 1L, 1L),
      ("2024-01-08", 0L, 1L, 1L)), s"got $got")
  }

  test("x99 SCD2: consecutive duplicates collapse, intervals chain, last version is current") {
    val dir = tmpDir("scd2")
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    Seq(
      // user 1: view, view (dup — collapses), click, view again (new version)
      (1L, ts(1), 1L, "view", 1.0), (2L, ts(2), 1L, "view", 1.0),
      (3L, ts(3), 1L, "click", 1.0), (4L, ts(4), 1L, "view", 1.0),
      // user 2: single state — one current version
      (5L, ts(1), 2L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.TemporalQueries.x99(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        Option(r.getString(4)), r.getBoolean(5))).toSeq
    assert(got == Seq(
      (1L, 1L, "view", "2024-01-01 10:01:00", Some("2024-01-01 10:03:00"), false),
      (1L, 2L, "click", "2024-01-01 10:03:00", Some("2024-01-01 10:04:00"), false),
      (1L, 3L, "view", "2024-01-01 10:04:00", None, true),
      (2L, 1L, "purchase", "2024-01-01 10:01:00", None, true)), s"got $got")
    // interval chaining: each non-current valid_to is the next version's valid_from
    got.filter(_._1 == 1L).sliding(2).foreach { case Seq(a, b) =>
      assert(a._5.contains(b._4), s"interval break: $a | $b")
    }
  }

  test("x104 rolling MAD: warm-up unflagged, stable series unflagged, planted spike flagged") {
    val dir = tmpDir("mad")
    import spark.implicits._
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    // 15 stable hours at 10.0, then a spike at hour 15, then stable again
    val rows = (0 until 20).map { h =>
      val v = if (h == 15) 100.0 else 10.0
      (h.toLong, ts(h), 1L, "view", v)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.TemporalQueries.x104(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(3), Option(if (r.isNullAt(4)) null else r.getDouble(4)),
        r.getBoolean(6))).toSeq
    // hours 0..11: fewer than 12 prior observations -> null med, unflagged
    got.take(12).foreach { case (h, n, med, anom) =>
      assert(n < 12 && med.isEmpty && !anom, s"warm-up row flagged: ($h, $n, $med, $anom)")
    }
    // hours 12..14: stable baseline (med 10, mad 0) -> |10-10| > 0 is false
    got.slice(12, 15).foreach { case (h, _, med, anom) =>
      assert(med.contains(10.0) && !anom, s"stable row misflagged: $h $med $anom")
    }
    // hour 15: the spike against the robust baseline
    val spike = got(15)
    assert(spike._3.contains(10.0) && spike._4, s"spike not flagged: $spike")
    // hours 16..19: back to normal; the spike sits in the trailing frame but
    // cannot shift the MEDIAN -> still unflagged (the robustness claim)
    got.drop(16).foreach { case (h, _, _, anom) =>
      assert(!anom, s"post-spike row misflagged by contaminated baseline: $h")
    }
  }

  test("x106 merge: update applies, delete wins over update, inserts land, untouched rows carry") {
    val dir = tmpDir("merge")
    import spark.implicits._
    // key 20 is in BOTH the update (%10=0) and delete (%17=3) classes —
    // the precedence rule must delete it, not update it
    Seq((3L, "c3", 1, 50.0, "SEG"), (7L, "c7", 2, 60.0, "SEG"),
      (10L, "c10", 3, 70.0, "SEG"), (20L, "c20", 4, 80.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = operators.JoinQueries.x106(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(3)))).toMap
    assert(got.keySet == (Set(7L, 10L) ++ (21L to 40L)), s"keys: ${got.keySet}")
    assert(got(7L) == (("c7", 60.0)), "untouched row must carry unchanged")
    assert(got(10L) == (("c10", 170.0)), "update must add 100 to acctbal")
    assert(got(21L) == (("Customer#new-1", 10.0)), "insert row shape")
    assert(!got.contains(3L) && !got.contains(20L), "deletes (incl. precedence case) must vanish")
  }

  test("x105 count-min: estimates never undercount; collision-free corpus estimates exactly") {
    // one-sided error on the real corpus: est >= exact for every probe
    val got = operators.UdfQueries.x105(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"CMS undercounted: $r")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1), s"overcount arithmetic: $r")
    }
    // planted corpus with ~6 distinct tokens over 1024 buckets x 4 rows:
    // a probe only overcounts if its bucket collides in ALL 4 rows — with
    // fixed h60 hashes this is deterministic, and these tokens don't collide
    val dir = tmpDir("cms")
    import spark.implicits._
    Seq((1L, "alpha beta gamma alpha", "en", "s", 22L),
      (2L, "beta beta delta epsilon", "en", "s", 23L),
      (3L, "alpha zeta", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = operators.UdfQueries.x105(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(planted.keySet == Set("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    planted.foreach { case (t, (_, over)) => assert(over == 0L, s"$t overcounted") }
    assert(planted("alpha")._1 == 3L && planted("beta")._1 == 3L && planted("zeta")._1 == 1L)
  }

  test("x107 HLL: independent Scala sketch reproduces the estimates bit-exactly; error bounded") {
    val got = operators.UdfQueries.x107(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.nonEmpty)
    // independent reference: the same shingle stream, but registers via
    // numberOfLeadingZeros (not the query's OR-smear + popcount) and md5 via
    // MessageDigest (not the codegen H60 expression) — a full third
    // implementation agreeing bit-for-bit with both engines
    val docs = operators.DedupQueries
    import spark.implicits._
    val shingles = Tables.t(spark, sfDir, "documents")
      .select(col("lang"), split(col("text"), " ").as("toks"))
      .select(col("lang"), explode(array_distinct(docs.shingles3(col("toks")))).as("g"))
      .as[(String, String)].collect()
    def h60ref(sx: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val m = 1024
    val alpha = 0.7213 / (1 + 1.079 / m)
    val regs = collection.mutable.Map.empty[(String, Long), Int]
    val exactRef = collection.mutable.Map.empty[String, collection.mutable.Set[String]]
    shingles.foreach { case (lang, g) =>
      val h = h60ref(g)
      val bucket = h >>> 50
      val v = h & ((1L << 50) - 1)
      val rho = if (v == 0L) 51 else java.lang.Long.numberOfLeadingZeros(v) - 14 + 1
      val k = (lang, bucket)
      regs(k) = math.max(regs.getOrElse(k, 0), rho)
      exactRef.getOrElseUpdate(lang, collection.mutable.Set.empty) += g
    }
    got.foreach { case (lang, (est, exact, errPct)) =>
      assert(exact == exactRef(lang).size.toLong, s"$lang exact NDV mismatch")
      // raw-regime precondition (no linear-counting branch): n > 2.5m
      assert(exact > (2.5 * m).toLong, s"$lang below the raw-HLL regime: $exact")
      val present = regs.keys.filter(_._1 == lang).toSeq
      val sumterm = present.map(k => 1L << (52 - regs(k))).sum +
        (m - present.size).toLong * (1L << 52)
      val estRef = alpha * m.toDouble * m.toDouble * math.pow(2.0, 52) / sumterm.toDouble
      assert(est == math.floor(estRef * 1000 + 0.5) / 1000,
        s"$lang estimate: query=$est ref=$estRef")
      // HLL standard error at m=1024 is ~1.04/32 = 3.3%; 15% = well past 3σ
      assert(math.abs(est - exact) / exact < 0.15, s"$lang err ${errPct}%")
    }
  }

  test("x81 Misra-Gries: heavy hitters survive eviction under any partitioning") {
    val k = 8
    val mg = new UdfQueries.MisraGries(k)
    // planted skew: 2 true heavy hitters above n/k, 100 tail keys >> k
    val data: Seq[Long] = Seq.fill(400)(1L) ++ Seq.fill(300)(2L) ++
      (0 until 100).flatMap(i => Seq.fill(3)(100L + i)) // n = 1000, n/k = 125
    for (parts <- Seq(1, 3, 7, 25)) {
      val bufs = data.grouped(math.max(1, data.length / parts))
        .map(ch => ch.foldLeft(mg.zero)(mg.reduce)).toSeq
      val merged = bufs.reduce(mg.merge)
      assert(merged.n <= k, s"parts=$parts sketch exceeded k")
      val cands = mg.finish(merged).toSet
      assert(cands.contains(1L) && cands.contains(2L),
        s"parts=$parts dropped a guaranteed heavy hitter: $cands")
    }
    // same guarantee end-to-end through the Spark udaf on a shuffled frame
    import spark.implicits._
    val cs = data.toDF("gh").repartition(5)
      .agg(udaf(new UdfQueries.MisraGries(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())(col("gh")))
      .head.getSeq[Long](0).toSet
    assert(Set(1L, 2L).subsetOf(cs) && cs.size <= k, s"spark-side sketch: $cs")
  }

  test("x67 BPE merges match an independent greedy reference implementation") {
    val got = LmQueries.x67(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == (1L to 6L), "steps must be 1..K")
    // top-pair counts never increase: a later pair's count is bounded by
    // the count of some pair already present (and outranked) earlier
    val ns = got.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, ns.mkString(","))

    // independent reference: plain-Scala BPE over the same word counts,
    // TRUE greedy left-to-right non-overlapping merge application
    val wc = graft.Tables.t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0).map(_.toString).toList -> r.getLong(1))
    var vocab = wc
    val expected = (1 to 6).map { k =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + cnt)
      }
      val (pair, n) = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
      def mergeGreedy(s: List[String]): List[String] = s match {
        case a :: b :: rest if (a, b) == pair => (a + b) :: mergeGreedy(rest)
        case a :: rest => a :: mergeGreedy(rest)
        case Nil => Nil
      }
      vocab = vocab.map { case (syms, cnt) => mergeGreedy(syms) -> cnt }
      (k.toLong, s"${pair._1} ${pair._2}", n)
    }
    assert(got.toSeq == expected,
      s"got ${got.toSeq}\nexpected $expected")
  }

  test("x86 BPE encode matches an independent Scala re-application of the trained merges") {
    val merges = LmQueries.x67(spark, sfDir).collect().sortBy(_.getLong(0)).map(_.getString(1))
    // independent reference: pad to " a b c ", apply each merge in step
    // order as the contract's double literal-replace, count symbols
    def encTokens(w: String): Long = {
      var s = " " + w.map(c => s"$c ").mkString
      merges.foreach { p =>
        val m = p.replace(" ", "")
        s = s.replace(s" $p ", s" $m "); s = s.replace(s" $p ", s" $m ")
      }
      s.trim.split(" ").length.toLong
    }
    val want = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map { r =>
        val ws = r.getString(1).split(" ")
        (r.getLong(0), ws.length.toLong, ws.map(encTokens).sum)
      }.sortBy(_._1).toSeq
    val got = LmQueries.queries("x86_bpe_encode")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(x => x._1 != x._2)}")
    // merges must actually compress: strictly fewer tokens than characters
    val chars = graft.Tables.t(spark, sfDir, "documents")
      .select(sum(length(regexp_replace($"text", " ", "")))).head.getLong(0)
    val toks = got.map(_._3).sum
    assert(toks < chars, s"encode must compress: $toks tokens vs $chars chars")
  }

  test("x59 DSIR weights: target-source docs weigh more, weights positive") {
    val r = LmQueries.x59(spark, sfDir).collect()
    assert(r.length == 500)
    r.foreach(row => assert(row.getDouble(3) > 0.0 && row.getLong(2) > 0L))
    val (tgt, rest) = r.partition(_.getString(1) == "src0")
    def mean(a: Array[org.apache.spark.sql.Row]) = a.map(_.getDouble(3)).sum / a.length
    assert(tgt.nonEmpty && rest.nonEmpty && mean(tgt) > mean(rest),
      s"DSIR should up-weight the target source: ${mean(tgt)} vs ${mean(rest)}")
  }

  test("IVF-PQ search: query ranks first, distances nondecreasing, subset of full ADC ranking") {
    val r = operators.AdvancedQueries.queries("x57_ivfpq_search")(spark, sfDir).collect()
    assert(r.length == 10)
    // the query's own cluster is its top probe and its code is the LUT
    // argmin -> vec 0 is in the candidate set with the minimal distance
    assert(r.head.getLong(0) == 0L, s"IVF-PQ top-1 is ${r.head.getLong(0)}")
    val dists = r.map(_.getDouble(1))
    assert(dists.zip(dists.tail).forall { case (a, b) => a <= b }, "adist not sorted")
    // cluster pruning only SHRINKS the candidate set: every x57 hit that the
    // full ADC ranking (x56) also surfaces must carry the same distance
    val full = VectorQueries.x56(spark, sfDir).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.foreach { row =>
      full.get(row.getLong(0)).foreach(d =>
        assert(d == row.getDouble(1), s"adist mismatch for ${row.getLong(0)}"))
    }
  }

  test("dedup is idempotent (E14)") {
    val d1 = WindowQueries.q23(spark, sfDir).collect().toSeq
    val d2 = WindowQueries.q23(spark, sfDir).collect().toSeq
    assert(d1 == d2)
  }

  test("union-all count additivity (B15)") {
    val li = graft.Tables.t(spark, sfDir, "lineitem")
    assert(li.unionAll(li).count() == 2 * li.count())
  }

  test("E30: approx_count_distinct within 5% of exact; x63 verdict holds") {
    // the tighter bound on the raw estimate (the sketch value itself stays
    // out of x63's oracle-hashed output — engine-specific)
    val b = graft.Tables.t(spark, sfDir, "orders").agg(
      approx_count_distinct($"o_custkey").as("approx"),
      countDistinct($"o_custkey").as("exact")).collect().head
    val (approx, exact) = (b.getAs[Long]("approx").toDouble, b.getAs[Long]("exact").toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
    val r = UdfQueries.x63(spark, sfDir).collect().head
    assert(r.getAs[Boolean]("within_10pct"), r.toString)
    assert(r.getAs[Long]("exact_custs").toDouble == exact)
  }

  test("E29: UDAF bounded top-k equals the window-function top-k") {
    val viaUdaf = UdfQueries.x61(spark, sfDir)
      .select("c_mktsegment", "rn", "o_orderkey").as[(String, Long, Long)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"c_mktsegment").orderBy($"o_totalprice".desc, $"o_orderkey")
    val o = graft.Tables.t(spark, sfDir, "orders")
    val c = graft.Tables.t(spark, sfDir, "customer")
    val viaWindow = o.join(c, o("o_custkey") === c("c_custkey"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select($"c_mktsegment", $"rn".cast("long"), $"o_orderkey")
      .orderBy($"c_mktsegment", $"rn").as[(String, Long, Long)].collect().toSeq
    assert(viaUdaf == viaWindow)
  }

  test("x152 TWAP matches a naive step-function integral; constant day degenerates to the value") {
    val rows = operators.TemporalQueries.x152(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val evs = graft.Tables.t(spark, sfDir, "events")
      .select($"event_type", $"ts", $"event_id", $"value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    def us(ts: java.sql.Timestamp) = ts.getTime / 1000 * 1000000 + ts.getNanos / 1000
    rows.take(8).foreach { r =>
      val (et, day) = (r.getString(0), r.getDate(1).toString)
      val es = evs.filter(e => e._1 == et && e._2.toInstant.toString.startsWith(day))
        .sortBy(e => (us(e._2), e._3))
      assert(r.getLong(2) == es.length, s"$et/$day count")
      val dayEndUs = java.time.LocalDate.parse(day).plusDays(1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
      val cents = es.map(e => math.round(e._4 * 100))
      val tus = es.map(e => us(e._2))
      val dts = tus.indices.map(i =>
        (if (i + 1 < tus.length) tus(i + 1) else dayEndUs) - tus(i))
      val twap = cents.zip(dts).map { case (c, dt) => BigInt(c) * BigInt(dt) }.sum.toDouble /
        dts.sum.toDouble / 100.0
      assert(math.abs(r.getDouble(3) - twap) < 1e-5, s"$et/$day twap: ${r.getDouble(3)} vs $twap")
      // TWAP and the unweighted mean must both live inside the value range
      val (lo, hi) = (cents.min / 100.0, cents.max / 100.0)
      assert(r.getDouble(3) >= lo - 1e-6 && r.getDouble(3) <= hi + 1e-6, s"twap in range: $r")
      assert(r.getDouble(4) >= lo - 1e-6 && r.getDouble(4) <= hi + 1e-6, s"mean in range: $r")
    }
  }

  test("x153 OHLC matches a naive first/last/min/max replay; invariants hold") {
    val rows = operators.TemporalQueries.x153(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val evs = graft.Tables.t(spark, sfDir, "events")
      .select($"event_type", $"ts", $"event_id", $"value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    def us(ts: java.sql.Timestamp) = ts.getTime / 1000 * 1000000 + ts.getNanos / 1000
    rows.take(8).foreach { r =>
      val (et, day) = (r.getString(0), r.getDate(1).toString)
      val es = evs.filter(e => e._1 == et && e._2.toInstant.toString.startsWith(day))
        .sortBy(e => (us(e._2), e._3))
      assert(r.getLong(2) == es.length, s"$et/$day count")
      val cents = es.map(e => math.round(e._4 * 100))
      assert(r.getDouble(3) == cents.head / 100.0, s"$et/$day open")
      assert(r.getDouble(4) == cents.max / 100.0, s"$et/$day high")
      assert(r.getDouble(5) == cents.min / 100.0, s"$et/$day low")
      assert(r.getDouble(6) == cents.last / 100.0, s"$et/$day close")
      assert(r.getLong(7) == cents.max - cents.min, s"$et/$day range")
    }
    // structural invariants over ALL bars: low <= open/close <= high
    rows.foreach { r =>
      assert(r.getDouble(5) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(4), s"open in [low,high]: $r")
      assert(r.getDouble(5) <= r.getDouble(6) && r.getDouble(6) <= r.getDouble(4), s"close in [low,high]: $r")
    }
  }

  test("x156 Kaplan-Meier matches a naive censored-survival replay") {
    val rows = operators.TemporalQueries.x156(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val evs = graft.Tables.t(spark, sfDir, "events")
      .select($"user_id", $"event_type", to_date($"ts").as("day")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toLocalDate))
    val mx = evs.map(_._3).max
    val obs = evs.filter(_._2 == "view").groupBy(_._1).toSeq.map { case (u, vs) =>
      val v0 = vs.map(_._3).min
      val p0 = evs.filter(e => e._1 == u && e._2 == "purchase" && !e._3.isBefore(v0))
        .map(_._3).minOption
      p0 match {
        case Some(p) => (java.time.temporal.ChronoUnit.DAYS.between(v0, p), 1)
        case None    => (java.time.temporal.ChronoUnit.DAYS.between(v0, mx), 0)
      }
    }.toSeq
    val grid = obs.groupBy(_._1).map { case (t, os) =>
      (t, os.count(_._2 == 1).toLong, os.count(_._2 == 0).toLong)
    }.toSeq.sortBy(_._1)
    var surv = 1.0
    val expect = grid.flatMap { case (t, d, c) =>
      val n = grid.filter(_._1 >= t).map(g => g._2 + g._3).sum
      if (d > 0) { surv *= (1.0 - d.toDouble / n.toDouble); Some((t, n, d, c, surv)) }
      else None
    }
    assert(rows.length == expect.length, s"${rows.length} vs ${expect.length} event days")
    rows.zip(expect).foreach { case (r, (t, n, d, c, s0)) =>
      assert(r.getLong(0) == t && r.getLong(1) == n && r.getLong(2) == d && r.getLong(3) == c,
        s"grid row: $r vs ($t,$n,$d,$c)")
      assert(math.abs(r.getDouble(4) - s0) < 1e-5, s"survival($t): ${r.getDouble(4)} vs $s0")
    }
    // survival must be monotone nonincreasing, in [0, 1] — exactly 0.0 is
    // legitimate when every subject still at risk has the event at the
    // final duration (the KM curve hits zero)
    val ss = rows.map(_.getDouble(4))
    assert(ss.zip(ss.tail).forall { case (a, b) => b <= a + 1e-12 }, "monotone")
    assert(ss.forall(s0 => s0 >= 0.0 && s0 <= 1.0), "in [0,1]")
  }

  test("x157 SES forecast matches a plain-Scala fold over the dense daily series") {
    val rows = operators.TemporalQueries.x157(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def fr6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val evs = graft.Tables.t(spark, sfDir, "events")
      .select($"event_type", to_date($"ts").as("day")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val (d0, d1) = (evs.map(_._2).min, evs.map(_._2).max)
    val days = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).toSeq
    val cnts = evs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val et = r.getString(0)
      val ys = days.map(dd => cnts.getOrElse((et, dd), 0L))
      assert(r.getLong(1) == ys.length.toLong, s"$et n_days")
      // the operator's exact fold: level starts at y0; errors measured
      // against the PRE-update level (one-step-ahead), naive against prev
      var (l, sae, snae, prev) = (ys.head.toDouble, 0.0, 0L, ys.head)
      ys.tail.foreach { y =>
        sae += math.abs(y.toDouble - l)
        snae += math.abs(y - prev)
        l = l + 0.3 * (y.toDouble - l)
        prev = y
      }
      val steps = (ys.length - 1).toDouble
      assert(math.abs(r.getDouble(2) - fr6(l)) < 1e-9, s"$et forecast")
      assert(math.abs(r.getDouble(3) - fr6(sae / steps)) < 1e-9, s"$et mae")
      assert(math.abs(r.getDouble(4) - fr6(snae / steps)) < 1e-9, s"$et naive_mae")
      if (snae == 0L) assert(r.isNullAt(5), s"$et skill null when baseline perfect")
      else assert(math.abs(r.getDouble(5) - fr6(1.0 - (sae / steps) / (snae / steps))) < 1e-9,
        s"$et skill")
    }
  }

  test("x167 ACF matches an exact BigInt replay over the dense daily series") {
    val rows = operators.TemporalQueries.x167(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def fr6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val evs = graft.Tables.t(spark, sfDir, "events")
      .select($"event_type", to_date($"ts").as("day")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val (d0, d1) = (evs.map(_._2).min, evs.map(_._2).max)
    val days = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).toSeq
    val cnts = evs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val types = evs.map(_._1).distinct
    assert(rows.length == types.length * 7, "7 lags per type")
    rows.foreach { r =>
      val (et, k) = (r.getString(0), r.getLong(1).toInt)
      val ys = days.map(dd => BigInt(cnts.getOrElse((et, dd), 0L)))
      val (n, sTot) = (BigInt(ys.length), ys.sum)
      // exact integer moments multiplied through by n² — the operator's form
      val num = (0 until ys.length - k)
        .map(t => (n * ys(t) - sTot) * (n * ys(t + k) - sTot)).sum
      val den = ys.map(y => (n * y - sTot) * (n * y - sTot)).sum
      def hilo(x: BigInt): Double = ((x / 1000000000).toDouble * 1e9) + (x % 1000000000).toDouble
      val acf = (if (num < 0) -1.0 else 1.0) * hilo(num.abs) / hilo(den)
      val band = 1.96 / math.sqrt((ys.length - k).toDouble)
      assert(r.getLong(2) == ys.length.toLong, s"$et n_days")
      assert(r.getDouble(3) == fr6(acf), s"$et lag $k acf: ${r.getDouble(3)} vs ${fr6(acf)}")
      assert(r.getDouble(4) == fr6(band), s"$et lag $k band")
      assert(r.getBoolean(5) == (math.abs(acf) > band), s"$et lag $k significance")
    }
  }

  test("x168 Mann-Kendall matches a naive all-pairs sign count with tie correction") {
    val rows = operators.TemporalQueries.x168(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    def fr6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val evs = graft.Tables.t(spark, sfDir, "events")
      .select($"event_type", to_date($"ts").as("day")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val (d0, d1) = (evs.map(_._2).min, evs.map(_._2).max)
    val days = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).toSeq
    val cnts = evs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.keySet == evs.map(_._1).toSet)
    rows.foreach { case (et, r) =>
      val ys = days.map(dd => cnts.getOrElse((et, dd), 0L))
      val n = ys.length.toLong
      val sStat = (for (i <- ys.indices; j <- i + 1 until ys.length)
        yield java.lang.Long.signum(ys(j) - ys(i)).toLong).sum
      val tie18 = ys.groupBy(identity).values
        .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }).sum
      val var18 = n * (n - 1) * (2 * n + 5) - tie18
      val z =
        if (sStat > 0) (sStat.toDouble - 1.0) / math.sqrt(var18.toDouble / 18.0)
        else if (sStat < 0) (sStat.toDouble + 1.0) / math.sqrt(var18.toDouble / 18.0)
        else 0.0
      assert(r.getLong(1) == n && r.getLong(3) == sStat && r.getLong(4) == var18,
        s"$et integers: $r vs ($n, $sStat, $var18)")
      assert(r.getDouble(5) == fr6(z), s"$et z")
      val trend = if (z > 1.96) "increasing" else if (z < -1.96) "decreasing" else "none"
      assert(r.getString(6) == trend, s"$et trend")
    }
  }

  test("x173 Theil-Sen slope matches a naive fix-point pairwise-median replay") {
    val rows = operators.TemporalQueries.x173(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    def fr6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val evs = graft.Tables.t(spark, sfDir, "events")
      .select($"event_type", to_date($"ts").as("day")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val (d0, d1) = (evs.map(_._2).min, evs.map(_._2).max)
    val days = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).toSeq
    val cnts = evs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val shift = BigInt(2147483648L)
    rows.foreach { case (et, r) =>
      val ys = days.map(dd => BigInt(cnts.getOrElse((et, dd), 0L)))
      val fps = (for {
        i <- ys.indices; j <- i + 1 until ys.length
      } yield {
        val den = BigInt(j - i)
        // positive-operand division: truncation == floor, both engines
        ((ys(j) - ys(i) + shift * den) * BigInt(1000000000) / den -
          shift * BigInt(1000000000)).toLong
      }).sorted
      val m = fps.length
      val mid = Seq((m + 1) / 2, (m + 2) / 2).distinct.map(k => fps(k - 1))
      val slope = mid.map(BigInt(_)).sum.toDouble / (mid.length.toDouble * 1e9)
      assert(r.getLong(1) == ys.length.toLong, s"$et n_days")
      assert(r.getLong(2) == m.toLong, s"$et n_pairs")
      assert(r.getDouble(3) == fr6(slope), s"$et slope ${r.getDouble(3)} vs ${fr6(slope)}")
    }
  }

  test("as-of join: every purchase appears exactly once, prev error is earlier") {
    val res = TemporalQueries.q33(spark, sfDir)
    val purchases = graft.Tables.t(spark, sfDir, "events")
      .filter($"event_type" === "purchase").count()
    assert(res.count() == purchases)
  }
}
