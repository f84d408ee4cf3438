package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The custom expressions exposed at the SQL surface (E29 extension seam). */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions applies cleanly to a fresh SparkSessionExtensions") {
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
  }

  test("float_prefix_dots: per-bound parity with sliced float_dot, short arrays clamp") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val bounds = Seq(2, 4, 8)
    // deterministic pseudo-random floats (no Math.random: repeatability)
    val v = (1 to 8).map(i => (math.sin(i) * 10).toFloat)
    val w = (1 to 8).map(i => (math.cos(i) * 10).toFloat)
    val df = Seq((v, w)).toDF("a", "b")
    val pre = df.select(graft.functions.VectorExprs
      .floatPrefixDots(col("a"), col("b"), bounds)).head().getSeq[Double](0)
    val sliced = bounds.map { m =>
      df.select(graft.functions.VectorExprs.floatDot(
        slice(col("a"), 1, m), slice(col("b"), 1, m))).head().getDouble(0)
    }
    assert(pre == sliced) // bit-identical, not approximate
    // arrays shorter than a bound: prefix clamps to the full-array dot
    val short = Seq((v.take(3), w.take(3))).toDF("a", "b")
    val preS = short.select(graft.functions.VectorExprs
      .floatPrefixDots(col("a"), col("b"), bounds)).head().getSeq[Double](0)
    val full3 = short.select(graft.functions.VectorExprs
      .floatDot(col("a"), col("b"))).head().getDouble(0)
    assert(preS(0) == sliced(0) && preS(1) == full3 && preS(2) == full3)
  }

  test("text_stats: one-pass counters match the three regex forms exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "Hello, world! This is fine... right?! Yes.",
      "", " ", "  double  spaces  ", "no punct here",
      "ünïcode résumé — naïve café!!! done?",   // multi-byte UTF-8
      "a.b.c", "...", "?!?!", "tab\tand\nnewline mix.")
    val df = texts.toDF("text")
    val got = df.select(graft.functions.VectorExprs.textStats(col("text")).as("st"))
      .select(col("st.ch"), col("st.w"), col("st.sn")).collect()
    val want = df.select(
      length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("long"),
      size(split(col("text"), " ")).cast("long"),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long")).collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("float_dot / simhash64 / minhash_sigs callable from spark.sql") {
    val dot = spark.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql("SELECT simhash64(array(CAST(5 AS BIGINT))) AS s").head().getLong(0)
    assert(sh == 5L) // single hash: simhash of one element is the element's bit pattern
    val sigs = spark.sql("SELECT minhash_sigs(array('a b c', 'b c d'), 4) AS m")
      .head().getSeq[Long](0)
    assert(sigs.length == 4)
    // parity with the Column-API form on the same input
    import spark.implicits._
    val viaCol = Seq(Seq("a b c", "b c d")).toDF("sh")
      .select(graft.functions.VectorExprs.minHashSigs($"sh", 4)).head().getSeq[Long](0)
    assert(sigs == viaCol)
  }

  test("h60 / h60_array callable from spark.sql, match the documented formulation") {
    val r = spark.sql(
      """SELECT h60('hello') AS a,
        |  CAST(conv(substring(md5(CAST('hello' AS BINARY)), 1, 15), 16, 10) AS BIGINT) AS b,
        |  h60_array(array('x', 'y'))[0] AS c, h60('x') AS d""".stripMargin).head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(2) == r.getLong(3))
  }

  test("reapLocalCheckpoints releases checkpoint blocks but spares the table cache") {
    import spark.implicits._
    val sc = spark.sparkContext
    // clean slate so counts below are exact
    Engine.reapLocalCheckpoints(spark)
    val before = sc.getPersistentRDDs.keySet
    // a cached table (CacheManager InMemoryRelation) — must SURVIVE reaping
    val cached = Seq(1, 2, 3).toDF("v").persist()
    cached.count()
    // an eager pin — the leak class the reaper targets
    val ck = Tables.pin(Seq(4, 5, 6).toDF("v"))
    assert(ck.count() == 3)
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(added.values.exists(_.isCheckpointed), "checkpoint RDD registered")
    val reaped = Engine.reapLocalCheckpoints(spark)
    assert(reaped >= 1, s"expected >=1 reaped, got $reaped")
    val after = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(!after.values.exists(_.isCheckpointed), "checkpoint blocks released")
    assert(after.values.exists(!_.isCheckpointed), "cache RDD survives")
    assert(cached.count() == 3) // cached table still serves
    cached.unpersist()
  }

  test("reaping a pin logs no warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import spark.implicits._
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("reap-warnings", null, null, false, Array.empty) {
      override def append(e: LogEvent): Unit = { warned.add(e.getMessage.getFormattedMessage); () }
    }
    appender.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration.getRootLogger
    Engine.reapLocalCheckpoints(spark)
    assert(Tables.pin(Seq(1, 2, 3).toDF("v")).count() == 3)
    root.addAppender(appender, Level.WARN, null)
    try assert(Engine.reapLocalCheckpoints(spark) == 1)
    finally root.removeAppender("reap-warnings")
    assert(warned.isEmpty, warned)
  }

  test("literal arguments: integral literals only, anything else is named and rejected") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    val builder = GraftExtensions.functions.map { case (id, _, b) => id.funcName -> b }.toMap
    val arr = Literal.create(Seq("a b c", "b c d"), org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
    val bad = Seq[(String, Expression)](
      "NULL" -> Literal(null, org.apache.spark.sql.types.IntegerType),
      "8.5" -> Literal(BigDecimal("8.5")),
      "'8x'" -> Literal("8x"),
      "'8'" -> Literal("8"),
      "8.0D" -> Literal(8.0),
      "3000000000L" -> Literal(3000000000L))
    for ((shown, e) <- bad) {
      val m = intercept[IllegalArgumentException](builder("minhash_sigs")(Seq(arr, e))).getMessage
      assert(m.startsWith("minhash_sigs: numHashes") && m.contains(shown), m)
      val p = intercept[IllegalArgumentException](
        builder("float_prefix_dots")(Seq(arr, arr, Literal(2), e))).getMessage
      assert(p.startsWith("float_prefix_dots: each bound") && p.contains(shown), p)
    }
    // integral literals of every width are accepted
    for (n <- Seq[Expression](Literal(4), Literal(4L), Literal(4.toShort), Literal(4.toByte)))
      assert(builder("minhash_sigs")(Seq(arr, n)) == graft.functions.MinHashSigs(arr, 4))
    // and the rejection surfaces through spark.sql with the function's name
    val e = intercept[Exception](spark.sql("SELECT minhash_sigs(array('a'), NULL)").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[IllegalArgumentException] && t.getMessage.contains("minhash_sigs")), e)
  }

  /** Ids of the context's checkpointed RDDs that are not in `before`. */
  private def newCheckpointed(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, r) if !before(id) && r.isCheckpointed => id
    }.toSet

  test("a reap on one thread leaves another thread's unconsumed pins intact") {
    import java.util.concurrent.{Callable, Executors}
    val q = SparkEntry.queries("x142_corr_matrix") // pins one eager aggregate
    val want = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
    Engine.reapLocalCheckpoints(spark)
    val clientB = Executors.newSingleThreadExecutor()
    def onB[T](body: => T): T = clientB.submit(new Callable[T] { def call(): T = body }).get()
    try {
      // B builds its query (the pin materializes now) but does not consume yet
      val built = onB(q(spark, sfDir))
      // A finishes its own query and reaps on its own thread
      val a = new Thread(() => { Engine.reapLocalCheckpoints(spark); () })
      a.start(); a.join()
      // B's lazy result still reads its pinned blocks
      assert(onB(built.collect().map(_.toString).sorted.toSeq) == want)
      assert(onB(Engine.reapLocalCheckpoints(spark)) >= 1, "B reaps its own pin")
    } finally clientB.shutdown()
  }

  test("a query that pins and then throws leaves no checkpointed RDD after its reap") {
    import org.apache.spark.sql.functions._
    Engine.reapLocalCheckpoints(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val boom = udf((v: Long) => { if (v == 7L) throw new IllegalStateException("boom"); v })
    var pinnedIds = Set.empty[Int]
    try {
      val pinned = Tables.pin(spark.range(100).toDF("v"))
      pinnedIds = newCheckpointed(before)
      intercept[org.apache.spark.SparkException](pinned.select(boom(col("v"))).collect())
    } finally Engine.reapLocalCheckpoints(spark)
    assert(pinnedIds.nonEmpty, "the pin materialized")
    assert(newCheckpointed(before).isEmpty)
  }

  test("reap leaves no checkpointed RDD from every pin form: x41, x142, distributed CC") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val forms = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "x41" -> (() => SparkEntry.queries("x41_minhash_lsh")(spark, sfDir)),
      "x142" -> (() => SparkEntry.queries("x142_corr_matrix")(spark, sfDir)),
      // localMaxEdges = 0 forces the distributed loop and its lazy pins
      "cc" -> (() => graft.operators.DedupQueries.connectedComponents(nodes, edges, 25, 0L)))
    for ((name, build) <- forms) {
      Engine.reapLocalCheckpoints(spark)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      try {
        assert(build().collect().nonEmpty, name)
        assert(newCheckpointed(before).nonEmpty, s"$name made no pin")
      } finally Engine.reapLocalCheckpoints(spark)
      assert(newCheckpointed(before).isEmpty, s"$name left pins behind")
    }
  }
}
