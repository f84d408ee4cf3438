package graft

import org.apache.spark.sql.streaming.Trigger
import graft.streaming._

/** Static rendezvous for the OCC race test (local mode: executor == driver
  * JVM, so an object field is visible to the UDF). */
object OccRace {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var log: String = ""
}

/** Small-file compaction + snapshot expiry over the ingest table. */
class MaintenanceSpec extends SparkSpec {

  private def ingestOnce(work: String, n: Long, seed: Long = 42L): Unit = {
    val topic = FileTopic(s"$work/topic")
    TradeGen.produce(spark, topic, n, seed)
    val q = IngestJob.start(spark, topic, s"$work/table",
      AnalyticsPipeline.tradeSchema,
      Seq("trade_id", "symbol"), "ts_event", s"$work/ckpt", Trigger.AvailableNow())
    q.awaitTermination()
  }

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists) Seq.empty
    else {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(d)
    }
  }

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** The parquet files of `batches` in lineage order. */
  private def batchFiles(table: String, batches: Seq[Long]) =
    IngestJob.batchFiles(hconf, table, batches).flatMap(_._2)

  /** Whether a compaction of every visible batch of `table` would copy
    * column chunks (a pure concatenation) rather than rewrite rows. */
  private def copies(table: String): Boolean = {
    val cms = CommitLog.commits(table)
    Maintenance.copyPlan(hconf, cms, IngestJob.batchFiles(hconf, table, CommitLog.visibleIn(cms)),
      128L << 20).isDefined
  }

  /** Each row group of `files`, in order, as its row count and, per column
    * chunk, the chunk's metadata, statistics, column index and offset index
    * (page offsets relative to the chunk's start, so a moved chunk compares
    * equal to its source). */
  private def rowGroups(files: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def bytes(b: java.nio.ByteBuffer) = {
      val d = b.duplicate(); val a = new Array[Byte](d.remaining); d.get(a); a.toSeq
    }
    files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hconf))
      try r.getRowGroups.asScala.toSeq.map { rg =>
        s"rows=${rg.getRowCount}" +: rg.getColumns.asScala.toSeq.map { c =>
          val oi = r.readOffsetIndex(c)
          assert(oi != null, s"${f.getPath} ${c.getPath}: no offset index")
          val pages = (0 until oi.getPageCount).map(i =>
            (oi.getOffset(i) - c.getStartingPos, oi.getCompressedPageSize(i), oi.getFirstRowIndex(i)))
          // parquet writes no column index for INT96 (Spark's timestamps)
          val ci = Option(r.readColumnIndex(c)).fold("no column index")(ci => Seq(
            ci.getBoundaryOrder, ci.getNullPages, ci.getNullCounts,
            ci.getMinValues.asScala.map(bytes), ci.getMaxValues.asScala.map(bytes)).mkString(" "))
          Seq(c.getPath, c.getCodec, c.getEncodings, c.getValueCount, c.getTotalSize,
            c.getTotalUncompressedSize, c.getStatistics, ci, pages).mkString(" ")
        }
      } finally r.close()
    }
  }

  /** The `org.apache.spark.*` footer entries of `f`. */
  private def sparkEntries(f: org.apache.hadoop.fs.FileStatus): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    IngestJob.fileMeta(hconf, f).getKeyValueMetaData.asScala.toMap
      .filter(_._1.startsWith("org.apache.spark."))
  }

  test("compaction: one consolidated snapshot, same rows, fewer files, time travel intact") {
    val work = tmpDir("graft-compact")
    ingestOnce(work, 100); ingestOnce(work, 50); ingestOnce(work, 50)
    val table = s"$work/table"
    assert(IngestJob.committedBatches(table) == Set(0L, 1L, 2L))

    val before = IngestJob.readTable(spark, table)
      .collect().map(_.toSeq).toSet
    val filesBefore = parquetFiles(s"$table/data").size

    val cid = Maintenance.CompactionIdBase
    val stats = Maintenance.compact(spark, table).get
    assert(stats.newBatch == cid && stats.replaced == Seq(0L, 1L, 2L))
    assert(stats.rowsRewritten == 200L)
    assert(Maintenance.visibleBatches(table) == Set(cid))

    // readers flip atomically: same rows, no duplicates
    val after = IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet
    assert(after == before)
    // consolidated: fewer live data files than the 3-snapshot layout
    val live = parquetFiles(s"$table/data/batch=$cid").size
    assert(live < filesBefore, s"expected <$filesBefore files, got $live")

    // time travel: pre-compaction snapshots still resolve from original dirs
    assert(IngestJob.readTableAsOf(spark, table, 0L).count() == 100L)
    assert(IngestJob.readTableAsOf(spark, table, 1L).count() == 150L)
    // as-of the compaction snapshot = current state, not doubled
    assert(IngestJob.readTableAsOf(spark, table, cid).count() == 200L)

    // a second run is a no-op: only one visible snapshot remains
    assert(Maintenance.compact(spark, table).isEmpty)

    // expiry physically removes the replaced dirs; current reads unaffected
    assert(Maintenance.expireSnapshots(table) == Seq(0L, 1L, 2L))
    assert(!new java.io.File(s"$table/data/batch=0").exists)
    assert(IngestJob.readTable(spark, table).count() == 200L)

    // an as-of read of an expired snapshot fails loudly ("snapshot expired"),
    // never silently returns the surviving subset of rows
    val e = intercept[IllegalArgumentException](IngestJob.readTableAsOf(spark, table, 0L))
    assert(e.getMessage.contains("expired"))
  }

  test("compaction reads its candidates in lineage order: a mid-schema column keeps its place") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, to_date}
    val table = s"${tmpDir("graft-compact-order")}/table"
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def commit(id: Long, df: DataFrame): Unit = {
      df.withColumn("p_date", to_date(col("ts"))).write.partitionBy("p_date")
        .parquet(CommitLog.batchDir(table, id))
      CommitLog.append(table, CommitLog.Commit(id, df.count()))
    }
    commit(0L, Seq((1L, "c0", ts)).toDF("a", "c", "ts"))
    commit(1L, Seq((2L, "c1", ts)).toDF("a", "c", "ts"))
    assert(Maintenance.compact(spark, table).get.replaced == Seq(0L, 1L))
    // a registry-compatible insert of `b` before `c`: readers place it last
    commit(2L, Seq((3L, 30L, "c2", ts)).toDF("a", "b", "c", "ts"))
    val cols = IngestJob.readTable(spark, table).columns.toSeq
    assert(cols == Seq("a", "c", "ts", "b"))
    assert(!copies(table), "candidates written under two schemas take the rewrite")
    val stats = Maintenance.compact(spark, table).get
    assert(stats.replaced == Seq(2L, Maintenance.CompactionIdBase))
    assert(IngestJob.readTable(spark, table).columns.toSeq == cols)
    assert(IngestJob.readTable(spark, table).count() == 3L)
  }

  test("mergeInto: copy-on-write upsert updates matched keys, inserts new ones") {
    import spark.implicits._
    val work = tmpDir("graft-merge")
    ingestOnce(work, 100)
    val table = s"$work/table"
    val before = IngestJob.readTable(spark, table)
    val cols = before.columns
    // 2 updates of existing trade_ids with a sentinel price + 2 brand-new ids
    import org.apache.spark.sql.functions.{concat, lit}
    val ids = before.select("trade_id").as[String].orderBy("trade_id").take(2).toSeq
    val upd = before.filter($"trade_id".isin(ids: _*)).withColumn("price", lit(9999.0))
    val ins = before.filter($"trade_id".isin(ids: _*))
      .withColumn("trade_id", concat($"trade_id", lit("-NEW")))
      .withColumn("price", lit(1234.0))
    val updates = upd.unionByName(ins)
      .select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)

    val stats = Maintenance.mergeInto(spark, table, updates, "trade_id", "ts_event")
    assert(stats.rowsRewritten == 102L) // 100 - 2 matched + 4 upserts

    val after = IngestJob.readTable(spark, table)
    assert(after.count() == 102L)
    // matched keys carry the updated price, inserted keys the new one
    assert(after.filter($"price" === 9999.0).select("trade_id").as[String]
      .collect().sorted.toSeq == ids.sorted)
    assert(after.filter($"price" === 1234.0).select("trade_id").as[String]
      .collect().sorted.toSeq == ids.map(_ + "-NEW").sorted)
    // time travel sees the pre-merge table
    assert(IngestJob.readTableAsOf(spark, table, 0L).count() == 100L)
    assert(IngestJob.readTableAsOf(spark, table, 0L)
      .filter($"price" === 9999.0).count() == 0L)
  }

  test("torn compaction write is invisible and the retry commits cleanly") {
    val work = tmpDir("graft-torn")
    ingestOnce(work, 60); ingestOnce(work, 60)
    val table = s"$work/table"
    val cid = Maintenance.CompactionIdBase
    // simulate a compactor crash AFTER the data write but BEFORE the log
    // append: fabricate a data dir under the compaction id with bogus rows
    val orphan = new java.io.File(s"$table/data/batch=$cid/p_date=2020-01-01")
    orphan.mkdirs()
    IngestJob.readTable(spark, table).limit(7).write.mode("overwrite")
      .parquet(orphan.toString)
    // not in the log -> not visible
    assert(IngestJob.readTable(spark, table).count() == 120L)
    assert(Maintenance.visibleBatches(table) == Set(0L, 1L))
    // the retried compaction overwrites the torn dir and commits atomically
    val stats = Maintenance.compact(spark, table).get
    assert(stats.newBatch == cid && stats.rowsRewritten == 120L)
    assert(IngestJob.readTable(spark, table).count() == 120L)
  }

  test("mergeInto is partition-scoped: only snapshots containing matched keys are rewritten") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val work = tmpDir("graft-merge-scoped")
    // distinct seeds -> the three snapshots hold disjoint trade_ids
    ingestOnce(work, 50, seed = 1); ingestOnce(work, 50, seed = 2); ingestOnce(work, 50, seed = 3)
    val table = s"$work/table"
    // two keys that live ONLY in snapshot 1
    val ids = IngestJob.readBatches(spark, table, Seq(1L))
      .filter(col("batch") === 1).select("trade_id").orderBy("trade_id")
      .as[String].take(2).toSeq
    val before = IngestJob.readTable(spark, table)
    val cols = before.columns
    val updates = before.filter(col("trade_id").isin(ids: _*))
      .withColumn("price", lit(7777.0))
      .select(cols.map(col).toIndexedSeq: _*)

    val stats = Maintenance.mergeInto(spark, table, updates, "trade_id", "ts_event")
    // the commit log proves the scope: only snapshot 1 was replaced
    assert(stats.replaced == Seq(1L))
    assert(stats.rowsRewritten == 50L) // 48 survivors + 2 updated
    assert(Maintenance.visibleBatches(table) == Set(0L, 2L, stats.newBatch))
    // untouched snapshot dirs survive on disk, still visible as-is
    assert(new java.io.File(s"$table/data/batch=0").exists)
    assert(new java.io.File(s"$table/data/batch=2").exists)
    val after = IngestJob.readTable(spark, table)
    assert(after.count() == 150L)
    assert(after.filter(col("price") === 7777.0).select("trade_id").as[String]
      .collect().sorted.toSeq == ids.sorted)
    // time travel to the pre-merge head sees the original prices
    assert(IngestJob.readTableAsOf(spark, table, 2L).filter(col("price") === 7777.0).count() == 0L)
  }

  test("merge-on-read: delete file instead of rewrite; rewriteDeletes folds it scoped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val work = tmpDir("graft-mor")
    ingestOnce(work, 50, seed = 10); ingestOnce(work, 50, seed = 11)
    val table = s"$work/table"
    val ids = IngestJob.readBatches(spark, table, Seq(0L))
      .filter(col("batch") === 0).select("trade_id").orderBy("trade_id")
      .as[String].take(2).toSeq
    val before = IngestJob.readTable(spark, table)
    val cols = before.columns
    val upd = before.filter(col("trade_id").isin(ids: _*)).withColumn("price", lit(9999.0))
    val ins = upd.withColumn("trade_id", concat(col("trade_id"), lit("-NEW")))
      .withColumn("price", lit(1234.0))
    val updates = upd.unionByName(ins).select(cols.map(col).toIndexedSeq: _*)

    val stats = Maintenance.mergeIntoMor(spark, table, updates, "trade_id", "ts_event")
    // nothing rewritten: both original snapshots stay visible, delete file lands
    assert(stats.replaced.isEmpty)
    assert(Maintenance.visibleBatches(table) == Set(0L, 1L, stats.newBatch))
    assert(new java.io.File(s"$table/_deletes/${stats.newBatch}").exists)
    val after = IngestJob.readTable(spark, table)
    assert(after.count() == 102L) // 100 - 2 shadowed + 4 upserts
    assert(after.filter(col("price") === 9999.0).select("trade_id").as[String]
      .collect().sorted.toSeq == ids.sorted)
    // time travel: pre-merge head unaffected; the MOR commit applies its delete
    assert(IngestJob.readTableAsOf(spark, table, 1L).count() == 100L)
    assert(IngestJob.readTableAsOf(spark, table, 1L).filter(col("price") === 9999.0).count() == 0L)
    assert(IngestJob.readTableAsOf(spark, table, stats.newBatch).count() == 102L)

    // fold the delete back into data files — scoped to snapshot 0 only
    val rw = Maintenance.rewriteDeletes(spark, table).get
    assert(rw.replaced == Seq(0L))
    assert(rw.rowsRewritten == 48L)
    assert(CommitLog.liveDeletes(CommitLog.commits(table)).isEmpty)
    val folded = IngestJob.readTable(spark, table)
    assert(folded.count() == 102L)
    assert(folded.filter(col("price") === 9999.0).count() == 2L)
    // idempotent: no live deletes left
    assert(Maintenance.rewriteDeletes(spark, table).isEmpty)
  }

  test("time travel across a delete-only MOR commit: no snapshot reads as expired") {
    import spark.implicits._
    val work = tmpDir("graft-mor-tombstone")
    ingestOnce(work, 50, seed = 14)
    val table = s"$work/table"
    val before = IngestJob.readTable(spark, table)
    val keys = before.select("trade_id").orderBy("trade_id").as[String].take(2).toSeq
    val tomb = Maintenance.mergeIntoMor(spark, table, before.limit(0), "trade_id", "ts_event",
      tombstoneKeys = Some(keys.toDF("trade_id")))
    assert(IngestJob.readTable(spark, table).count() == 48L)
    ingestOnce(work, 30, seed = 15)
    assert(IngestJob.readTable(spark, table).count() == 78L)
    assert(IngestJob.readTableAsOf(spark, table, 0L).count() == 50L)
    assert(IngestJob.readTableAsOf(spark, table, tomb.newBatch).count() == 48L)
    assert(IngestJob.readTableAsOf(spark, table, 1L).count() == 78L)
    // a compaction replaces the tombstone commit too; without an expiry
    // every snapshot still resolves
    assert(!copies(table), "a live equality delete takes the rewrite")
    assert(Maintenance.compact(spark, table).get.replaced.contains(tomb.newBatch))
    assert(IngestJob.readTableAsOf(spark, table, tomb.newBatch).count() == 48L)
    assert(IngestJob.readTable(spark, table).count() == 78L)
  }

  test("readTable of a table with a live MOR delete fires no Spark job before the scan") {
    import org.apache.spark.sql.functions.{col, lit}
    val work = tmpDir("graft-mor-jobs")
    ingestOnce(work, 50, seed = 12)
    val table = s"$work/table"
    val updates = IngestJob.readTable(spark, table).orderBy("trade_id").limit(2)
      .withColumn("price", lit(9999.0))
    Maintenance.mergeIntoMor(spark, table, updates, "trade_id", "ts_event")
    assert(CommitLog.liveDeletes(CommitLog.commits(table)).size == 1)
    val (read, jobs) = jobsDuring {
      val t = IngestJob.readTable(spark, table)
      t.queryExecution.executedPlan // resolved and planned, not run
      t
    }
    assert(jobs == 0)
    assert(read.count() == 50L)
    assert(read.filter(col("price") === 9999.0).count() == 2L)
  }

  test("optimistic concurrency: a commit racing the merge aborts the attempt and retries") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, udf}
    val work = tmpDir("graft-merge-occ")
    ingestOnce(work, 40, seed = 20)
    val table = s"$work/table"
    val ids = IngestJob.readTable(spark, table)
      .select("trade_id").orderBy("trade_id").as[String].take(2).toSeq
    val before = IngestJob.readTable(spark, table)
    val cols = before.columns
    // side-effecting column: its FIRST evaluation appends a rival ingest
    // commit to the snapshot log — i.e. a batch lands between the merge's
    // log read and its commit append
    OccRace.fired.set(false)
    OccRace.log = s"$table/_snapshots.jsonl"
    val race = udf { (p: Double) =>
      if (OccRace.fired.compareAndSet(false, true))
        java.nio.file.Files.write(java.nio.file.Paths.get(OccRace.log),
          "{\"batch\":7,\"rows\":0,\"rejects\":0,\"committed\":true}\n".getBytes,
          java.nio.file.StandardOpenOption.APPEND)
      p
    }
    val updates = before.filter(col("trade_id").isin(ids: _*))
      .withColumn("price", race(lit(4242.0)))
      .select(cols.map(col).toIndexedSeq: _*)

    val stats = Maintenance.mergeInto(spark, table, updates, "trade_id", "ts_event")
    assert(OccRace.fired.get)
    // attempt 1 aborted (log moved past its base); attempt 2 committed
    // against the new head, which includes the rival batch 7
    assert(stats.replaced == Seq(0L))
    assert(Maintenance.visibleBatches(table) == Set(7L, stats.newBatch))
    assert(IngestJob.readTable(spark, table).filter(col("price") === 4242.0).count() == 2L)
  }

  test("commit lock serializes read-modify-write on the log (no lost updates)") {
    val work = tmpDir("graft-lock")
    val counter = java.nio.file.Paths.get(work, "counter")
    java.nio.file.Files.write(counter, "0".getBytes)
    val threads = 8; val iters = 10
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = (1 to threads).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = (1 to iters).foreach { _ =>
          CommitLog.withLock(work) {
            val v = new String(java.nio.file.Files.readAllBytes(counter)).trim.toLong
            Thread.sleep(1) // widen the window a lockless interleaving would hit
            java.nio.file.Files.write(counter, (v + 1).toString.getBytes)
          }
        }
      })
    }
    done.foreach(_.get())
    pool.shutdown()
    val v = new String(java.nio.file.Files.readAllBytes(counter)).trim.toLong
    assert(v == threads.toLong * iters, s"lost updates: $v of ${threads * iters}")
  }

  test("two concurrent mergeInto writers both commit; OCC makes the loser retry") {
    import org.apache.spark.sql.functions.{col, lit}
    val work = tmpDir("graft-merge-concurrent")
    ingestOnce(work, 40, seed = 33)
    val table = s"$work/table"
    val before = IngestJob.readTable(spark, table)
    val cols = before.columns
    import spark.implicits._
    val ids = before.select("trade_id").orderBy("trade_id").as[String].take(4).toSeq
    def upd(keys: Seq[String], price: Double) =
      before.filter(col("trade_id").isin(keys: _*))
        .withColumn("price", lit(price))
        .select(cols.map(col).toIndexedSeq: _*)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fa = pool.submit(new java.util.concurrent.Callable[Maintenance.CompactionStats] {
      def call() = Maintenance.mergeInto(spark, table, upd(ids.take(2), 1111.0),
        "trade_id", "ts_event", maxRetries = 5)
    })
    val fb = pool.submit(new java.util.concurrent.Callable[Maintenance.CompactionStats] {
      def call() = Maintenance.mergeInto(spark, table, upd(ids.drop(2), 2222.0),
        "trade_id", "ts_event", maxRetries = 5)
    })
    val (sa, sb) = (fa.get(), fb.get())
    pool.shutdown()
    assert(sa.newBatch != sb.newBatch)
    val after = IngestJob.readTable(spark, table)
    assert(after.filter(col("price") === 1111.0).count() == 2L)
    assert(after.filter(col("price") === 2222.0).count() == 2L)
    assert(after.select("trade_id").distinct().count() == 40L, "no rows lost or duplicated")
  }

  test("ingest after compaction: no id collision, no dropped batch") {
    val work = tmpDir("graft-compact2")
    ingestOnce(work, 40); ingestOnce(work, 40)
    val table = s"$work/table"
    val cid = Maintenance.CompactionIdBase
    assert(Maintenance.compact(spark, table).get.newBatch == cid)
    // the stream checkpoint's next batch id is 2 — it must NOT collide with
    // the compaction snapshot (disjoint id ranges), or the exactly-once
    // guard would silently drop these 20 rows
    ingestOnce(work, 20)
    assert(Maintenance.visibleBatches(table) == Set(cid, 2L))
    assert(IngestJob.readTable(spark, table).count() == 100L)
    // lineage as-of: ingest batch 2 commits AFTER the compaction
    assert(IngestJob.readTableAsOf(spark, table, 2L).count() == 100L)
    assert(IngestJob.readTableAsOf(spark, table, cid).count() == 80L)
  }

  test("crash injection: torn commits stay invisible, staging GC reclaims, next commit heals") {
    import java.nio.file.{Files, Paths}
    val work = tmpDir("graft-crash")
    val table = s"$work/table"
    // distinct seeds: same-seed batches share their prefix trades and the
    // row-set comparison below would collapse the duplicates
    ingestOnce(work, 100, seed = 7L); ingestOnce(work, 50, seed = 8L)
    val before = IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet
    assert(before.size == 150)

    // CRASH WINDOW 1 — writer died after staging, before commit: an
    // orphaned nonce'd dir under _staging/. Readers never see it; a
    // grace-period sweep keeps it (could be a live writer); an expired
    // sweep reclaims it.
    val staged = Paths.get(table, "_staging", "batch=999-deadbeef")
    Files.createDirectories(staged)
    Files.writeString(staged.resolve("part-00000.parquet"), "torn half-write")
    assert(IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet == before)
    assert(CommitLog.gcStaging(table).isEmpty, "fresh staging must survive the default grace")
    assert(CommitLog.gcStaging(table, maxAgeMs = -1000L) == Seq("batch=999-deadbeef"))
    assert(!Files.exists(staged))

    // CRASH WINDOW 2 — writer died between the atomic rename and the log
    // append: data/batch=N exists with VALID files (the rename is atomic —
    // half-written files can't land here) but no commit line. Invisible to
    // readers; the next writer to allocate N treats it as provable torn
    // garbage, clears it, and commits over it.
    val cid = Maintenance.CompactionIdBase
    val torn = s"$table/data/batch=$cid"
    spark.read.parquet(s"$table/data/batch=0") // p_date inferred from dirs
      .write.partitionBy("p_date").parquet(torn)
    assert(IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet == before,
      "a data dir without a commit line must stay invisible")

    val stats = Maintenance.compact(spark, table).get
    assert(stats.newBatch == cid && stats.rowsRewritten == 150L)
    assert(Maintenance.visibleBatches(table) == Set(cid))
    val after = IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet
    assert(after == before, "healed commit must carry exactly the committed rows, no torn extras")
  }

  test("compaction copies column chunks: row groups, statistics and page indexes unchanged, one job") {
    val work = tmpDir("graft-compact-copy")
    ingestOnce(work, 100, seed = 40); ingestOnce(work, 50, seed = 41); ingestOnce(work, 50, seed = 42)
    val table = s"$work/table"
    val inputs = batchFiles(table, Seq(0L, 1L, 2L))
    val before = IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet
    assert(copies(table))

    val (stats, jobs, stages, tasks) = stagesDuring(Maintenance.compact(spark, table).get)
    val cid = Maintenance.CompactionIdBase
    assert(stats.newBatch == cid && stats.replaced == Seq(0L, 1L, 2L) && stats.rowsRewritten == 200L)
    // one job of one stage (no Exchange), one task per output file
    val out = batchFiles(table, Seq(cid))
    assert(out.size == 1)
    assert((jobs, stages, tasks) == (1, 1, 1))
    // the inputs' row groups, in lineage order, byte for byte
    assert(rowGroups(out) == rowGroups(inputs))
    assert(rowGroups(out).flatten.filter(_.startsWith("[trade_id]")).forall(!_.contains("no column index")))
    assert(inputs.map(sparkEntries).distinct == Seq(sparkEntries(out.head)))
    assert(IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet == before)
    assert(IngestJob.readTable(spark, table).count() == 200L)

    // the next round copies the compacted batch again, after the new ingests
    ingestOnce(work, 30, seed = 43); ingestOnce(work, 20, seed = 44)
    assert(copies(table))
    val again = batchFiles(table, Seq(cid, 3L, 4L))
    val stats2 = Maintenance.compact(spark, table).get
    assert(stats2.replaced == Seq(3L, 4L, cid) && stats2.rowsRewritten == 250L)
    val out2 = batchFiles(table, Seq(stats2.newBatch))
    assert(rowGroups(out2) == rowGroups(again))
    assert(IngestJob.readTable(spark, table).count() == 250L)
  }

  test("the copy splits a date into outputs of at most targetBytes, in lineage order") {
    val work = tmpDir("graft-compact-pack")
    ingestOnce(work, 60, seed = 50); ingestOnce(work, 60, seed = 51); ingestOnce(work, 60, seed = 52)
    val table = s"$work/table"
    val inputs = batchFiles(table, Seq(0L, 1L, 2L))
    val target = inputs.map(_.getLen).sum / 3
    val before = IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet
    val (stats, jobs, stages, tasks) = stagesDuring(Maintenance.compact(spark, table, targetBytes = target).get)
    val out = batchFiles(table, Seq(stats.newBatch))
    assert(out.size >= 3 && out.forall(_.getPath.getParent.getName.startsWith("p_date=")))
    assert((jobs, stages, tasks) == (1, 1, out.size))
    assert(rowGroups(out) == rowGroups(inputs))
    assert(IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet == before)
  }

  test("the rewrite splits a date into about targetBytes files") {
    import org.apache.spark.sql.functions.{col, lit}
    val work = tmpDir("graft-compact-split")
    ingestOnce(work, 50, seed = 60); ingestOnce(work, 50, seed = 61)
    val table = s"$work/table"
    val updates = IngestJob.readTable(spark, table).orderBy("trade_id").limit(2)
      .withColumn("price", lit(9999.0))
    val mor = Maintenance.mergeIntoMor(spark, table, updates, "trade_id", "ts_event")
    assert(!copies(table))
    val cms = CommitLog.commits(table)
    val target = batchFiles(table, CommitLog.visibleIn(cms)).map(_.getLen).sum / 3
    val stats = Maintenance.compact(spark, table, targetBytes = target).get
    assert(stats.replaced == Seq(0L, 1L, mor.newBatch) && stats.rowsRewritten == 100L)
    val out = batchFiles(table, Seq(stats.newBatch))
    assert(out.map(_.getPath.getParent.getName).distinct.size == 1, "one date")
    assert(out.size >= 2, s"one date, ${out.size} file(s)")
    val after = IngestJob.readTable(spark, table)
    assert(after.count() == 100L)
    assert(after.filter(col("price") === 9999.0).count() == 2L)
  }

  test("the rewrite writes one date with as many tasks as it fills targetBytes files") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions.{col, lit}
    val work = tmpDir("graft-compact-tasks")
    ingestOnce(work, 400, seed = 62); ingestOnce(work, 400, seed = 63)
    val table = s"$work/table"
    val updates = IngestJob.readTable(spark, table).orderBy("trade_id").limit(2)
      .withColumn("price", lit(9999.0))
    Maintenance.mergeIntoMor(spark, table, updates, "trade_id", "ts_event")
    assert(!copies(table))
    val cms = CommitLog.commits(table)
    val before = IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet
    val asOf = cms.map(c => c.id -> IngestJob.readTableAsOf(spark, table, c.id).collect().map(_.toSeq).toSet)
    val bytes = batchFiles(table, CommitLog.visibleIn(cms)).map(_.getLen).sum
    val target = bytes / 4
    // tasks that wrote rows: the write stage's, the only one that writes
    val writers = new AtomicInteger
    val stats = listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0) writers.incrementAndGet()
    })(Maintenance.compact(spark, table, targetBytes = target).get)
    val out = batchFiles(table, Seq(stats.newBatch))
    assert(out.map(_.getPath.getParent.getName).distinct.size == 1, "one date")
    // the date's share of ~target files, each its own write task
    assert(writers.get == (bytes + target - 1) / target, s"one date written by ${writers.get} task(s)")
    assert(out.size >= 2 && out.forall(_.getLen < target * 2), out.map(_.getLen).mkString(","))
    assert(IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet == before)
    assert(IngestJob.readTable(spark, table).filter(col("price") === 9999.0).count() == 2L)
    asOf.foreach { case (id, rows) =>
      assert(IngestJob.readTableAsOf(spark, table, id).collect().map(_.toSeq).toSet == rows, s"as of $id")
    }
  }

  test("a copy staged but not committed stays invisible, and staging GC reclaims it") {
    import java.nio.file.{Files, Paths}
    val work = tmpDir("graft-copy-crash")
    ingestOnce(work, 60, seed = 70); ingestOnce(work, 40, seed = 71)
    val table = s"$work/table"
    val before = IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet
    val cms = CommitLog.commits(table)
    val cid = Maintenance.CompactionIdBase
    val plan = Maintenance.copyPlan(hconf, cms,
      IngestJob.batchFiles(hconf, table, CommitLog.visibleIn(cms)), 128L << 20).get
    val staged = CommitLog.stageData(table, cid)
    assert(Maintenance.copyChunks(spark, plan, staged) == 100L)
    assert(parquetFiles(staged.toString).nonEmpty)
    // the writer dies here: no commit line, so nothing changed for readers
    assert(CommitLog.commits(table) == cms)
    assert(Maintenance.visibleBatches(table) == Set(0L, 1L))
    assert(!Files.exists(Paths.get(CommitLog.batchDir(table, cid))))
    assert(IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet == before)
    assert(CommitLog.gcStaging(table, maxAgeMs = -1000L) == Seq(staged.getFileName.toString))
    val stats = Maintenance.compact(spark, table).get
    assert(stats.newBatch == cid && stats.rowsRewritten == 100L)
    assert(IngestJob.readTable(spark, table).collect().map(_.toSeq).toSet == before)
  }
}
