package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Table maintenance for the ingest table: small-file compaction, snapshot
  * expiry, and MERGE (the roles Iceberg's `rewrite_data_files` /
  * `expire_snapshots` / `MERGE INTO` play for the reference's
  * translator-written tables — every 10 s trigger commits a snapshot
  * (`redpanda/redpanda.yaml:11`), so a day-old table holds thousands of tiny
  * parquet files and a scan pays one task + one footer-read per file).
  *
  * Log design: every maintenance commit appends a normal commit line; a
  * `compacts` field lists the batch ids it replaces. Visibility = committed
  * − replaced, so readers atomically flip the moment the line lands (crash
  * before the append ⇒ the new data dir is simply invisible and the next run
  * overwrites it — same idempotent-write + commit-log protocol as ingest).
  *
  * MERGE comes in both Iceberg flavors:
  *  - [[mergeInto]] — copy-on-write, PARTITION-SCOPED: only the snapshots
  *    that actually contain matched keys are rewritten; untouched snapshot
  *    dirs stay on disk and stay visible. A pure insert rewrites nothing.
  *  - [[mergeIntoMor]] — merge-on-read: the update rows commit as a normal
  *    snapshot plus an equality-delete file (`_deletes/<snapshot>`), O(|updates|)
  *    write amplification regardless of table size. Readers anti-join the
  *    delete keys against rows of earlier lineage positions (Iceberg's
  *    sequence-number rule: an equality delete applies to data written
  *    strictly before it). [[rewriteDeletes]] later folds the deletes into
  *    data files — scoped to the snapshots that contain deleted keys — and
  *    retires the delete files (`retiresDeletes` commit field).
  *
  * Time travel: `readTableAsOf(b)` replays the lineage prefix up to `b`,
  * applying only the delete files and retirements inside that prefix, so
  * as-of reads keep resolving against the ORIGINAL snapshot dirs until
  * `expireSnapshots` physically deletes them (Iceberg's
  * rewrite-then-expire contract). Delete files are never expired — they are
  * keys-only and KBs-sized; data dirs are the storage that matters.
  *
  * Concurrency: writers may genuinely race (maintenance vs live ingest, or
  * two maintenance writers). The protocol is Iceberg's, adapted to a single
  * filesystem: (1) every writer stages its files at a UNIQUE nonce'd path
  * under `_staging/` — never under `data/` — so in-flight writes cannot
  * collide or become visible early; (2) the commit itself
  * (compare log against the base it computed from → atomic rename of the
  * staged dirs to their final `data/batch=N` paths → append the log line)
  * runs under an OS file lock ([[CommitLock]]) shared by ingest's
  * committer, making the optimistic-concurrency check atomic — the JSONL
  * analog of Iceberg's compare-and-swap on the catalog pointer. A loser
  * deletes its staging and aborts; [[mergeInto]] retries from the new log
  * head and throws after `maxRetries`.
  */
/** Exclusive lock on a table's commit log for the duration of `body`:
  * a JVM-level monitor (two threads of one JVM — FileChannel.lock throws
  * OverlappingFileLockException rather than blocking on a same-process
  * overlap) nested inside an OS-level `FileChannel.lock` on a sidecar
  * `_snapshots.lock` file (two processes on one filesystem). Every log
  * WRITER — ingest's commit append and maintenance's compare-and-append —
  * goes through here, which makes the OCC check genuinely atomic on a
  * single filesystem instead of merely narrow. This is the stand-in for
  * Iceberg's CAS on the catalog's metadata pointer; on a real object store
  * the swap-in is the catalog commit, not a file lock. Readers stay
  * lock-free (the log is append-only JSONL; a torn read sees a prefix). */
private[graft] object CommitLock {
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def withLogLock[T](tableDir: String)(body: => T): T = {
    val key = Paths.get(tableDir).toAbsolutePath.normalize.toString
    val mon = monitors.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      Files.createDirectories(Paths.get(tableDir))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(tableDir, "_snapshots.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }
  }
}

object Maintenance {
  case class CompactionStats(newBatch: Long, replaced: Seq[Long], rowsRewritten: Long)

  /** One parsed snapshot-log line. `compacts` = batch ids whose DATA this
    * commit replaces; `deleteKey` = column name of this commit's equality-
    * delete file (MOR merge); `retires` = delete-file snapshot ids this
    * commit folds in (their delete files stop applying from here on). */
  case class Commit(id: Long, compacts: Seq[Long], deleteKey: Option[String], retires: Seq[Long])

  /** Compaction snapshot ids live in a disjoint high range: the streaming
    * checkpoint's batch counter owns the low range, and an id collision
    * would make the ingest guard silently skip a real data batch (or write
    * into the compaction's data dir). */
  val CompactionIdBase = 1000000000000L

  private val idRe = "\"batch\":(\\d+)".r
  private val compRe = "\"compacts\":\\[([0-9, ]*)\\]".r
  private val delKeyRe = "\"deleteKey\":\"([^\"]+)\"".r
  private val retireRe = "\"retiresDeletes\":\\[([0-9, ]*)\\]".r
  private def idList(s: String): Seq[Long] =
    s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq

  /** The snapshot log in APPEND ORDER. Lineage position is the table's
    * sequence number: ids are NOT wall-clock ordered across ingest and
    * maintenance, position in this list is what defines before/after. */
  def commits(tableDir: String): Seq[Commit] = {
    val log = Paths.get(tableDir, "_snapshots.jsonl")
    if (!Files.exists(log)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(log).asScala.toSeq.flatMap { line =>
        idRe.findFirstMatchIn(line).map { m =>
          Commit(
            m.group(1).toLong,
            compRe.findFirstMatchIn(line).toSeq.flatMap(c => idList(c.group(1))),
            delKeyRe.findFirstMatchIn(line).map(_.group(1)),
            retireRe.findFirstMatchIn(line).toSeq.flatMap(r => idList(r.group(1))))
        }
      }
    }
  }

  /** Batch ids replaced by some committed compaction/merge. */
  def replacedBatches(tableDir: String): Set[Long] =
    commits(tableDir).flatMap(_.compacts).toSet

  /** Currently visible batch ids: committed minus compacted-away. */
  def visibleBatches(tableDir: String): Set[Long] = visibleIn(commits(tableDir)).toSet

  /** The batches visible after a lineage prefix, in lineage order: every
    * committed id that no commit of the prefix replaced. */
  private[graft] def visibleIn(prefix: Seq[Commit]): Seq[Long] = {
    val replaced = prefix.flatMap(_.compacts).toSet
    prefix.map(_.id).filterNot(replaced).distinct
  }

  /** Live equality-delete files within a lineage prefix: delete-carrying
    * commits minus those retired inside the same prefix.
    * Returns (sequence = lineage index, snapshot id, key column). */
  def liveDeletes(prefix: Seq[Commit]): Seq[(Int, Long, String)] = {
    val retired = prefix.flatMap(_.retires).toSet
    prefix.zipWithIndex.collect {
      case (c, i) if c.deleteKey.isDefined && !retired(c.id) => (i, c.id, c.deleteKey.get)
    }
  }

  /** Apply MOR equality-deletes to `rows` (which must still carry their
    * `batch` partition column): drop every row whose key appears in a live
    * delete file of a LATER lineage position. No-op (and zero plan change)
    * when the prefix holds no live deletes — the common case pays nothing.
    *
    * Scale shape: the sequence map is lineage-sized (broadcast), delete
    * files are keys-only (broadcast-sized in practice); the anti-join's
    * equi key is the merge key, so it shuffles/broadcasts keys — never
    * payloads, never a table rewrite. */
  def applyDeletes(spark: SparkSession, tableDir: String, rows: DataFrame,
      prefix: Seq[Commit]): DataFrame = {
    val dels = liveDeletes(prefix)
    if (dels.isEmpty) rows
    else {
      import spark.implicits._
      val seqDf = broadcast(
        prefix.map(_.id).zipWithIndex.toDF("_delbatch", "_seq"))
      var cur = rows.join(seqDf, rows("batch").cast("long") === seqDf("_delbatch"), "left")
        .drop("_delbatch")
      for ((keyCol, group) <- dels.groupBy(_._3)) {
        val delDf = deleteKeys(spark, tableDir, rows.schema(keyCol), group)
        cur = cur.join(broadcast(delDf),
          cur(keyCol) === delDf("_delkey") && cur("_seq") < delDf("_delseq"), "left_anti")
      }
      cur.drop("_seq")
    }
  }

  /** The keys of the live delete files `group` (all on column `key`) as
    * (`_delkey`, `_delseq` = the delete's lineage position). Each delete
    * file is read with the key's field from the table schema, so no
    * schema-inference job fires. */
  private def deleteKeys(spark: SparkSession, tableDir: String, key: StructField,
      group: Seq[(Int, Long, String)]): DataFrame =
    group.map { case (seq, id, _) =>
      spark.read.schema(StructType(Seq(key))).parquet(s"$tableDir/_deletes/$id")
        .select(col(key.name).as("_delkey"), lit(seq).as("_delseq"))
    }.reduce(_ unionByName _)

  private def dirSize(p: java.nio.file.Path): Long = {
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally s.close()
    }
  }

  private def nextId(cms: Seq[Commit]): Long =
    math.max(CompactionIdBase, cms.map(_.id).max + 1)

  private def appendLine(tableDir: String, line: String): Unit =
    Files.write(Paths.get(tableDir, "_snapshots.jsonl"), (line + "\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def deleteDir(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      val all = try s.sorted(java.util.Comparator.reverseOrder())
        .toArray(new Array[java.nio.file.Path](_))
      finally s.close()
      all.foreach(Files.deleteIfExists(_))
    }

  /** Unique staging location for a maintenance write. Staging lives OUTSIDE
    * `data/` (readers never glob it) and carries a random nonce so two
    * concurrent writers that picked the same next batch id from the same
    * log base can never clobber each other's in-flight files — the Iceberg
    * write path: data files land at unique paths, only the metadata commit
    * decides who wins. Crash leftovers in `_staging/` are invisible
    * garbage, safe to delete any time. */
  private def stagePath(tableDir: String, what: String, newId: Long): java.nio.file.Path =
    Paths.get(tableDir, "_staging", s"$what=$newId-${java.util.UUID.randomUUID().toString.take(8)}")

  /** GC crash leftovers under `_staging/`: a writer that died between
    * staging its files and committing leaves an orphaned nonce'd dir —
    * invisible to readers (staging is outside `data/`) but paying storage
    * forever. Deletes staging dirs older than `maxAgeMs` (default 1 h; a
    * LIVE writer's staging is necessarily younger — its job is running
    * right now) under the commit lock, so a sweep can never race the
    * winner's rename inside [[commitStaged]]. Run it on maintenance
    * startup, the way Iceberg deployments schedule orphan-file cleanup.
    * Returns the deleted dir names. */
  def gcStaging(tableDir: String, maxAgeMs: Long = 3600000L): Seq[String] =
    CommitLock.withLogLock(tableDir) {
      val root = Paths.get(tableDir, "_staging")
      if (!Files.isDirectory(root)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        val cutoff = System.currentTimeMillis() - maxAgeMs
        val s = Files.list(root)
        val victims = try s.iterator().asScala
          .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff).toList
        finally s.close()
        victims.foreach(deleteDir)
        victims.map(_.getFileName.toString)
      }
    }

  /** Optimistic-concurrency commit: the log must not have moved since the
    * result was computed from `base`. Runs under [[CommitLock.withLogLock]]
    * — an OS file lock shared with the ingest committer — so the
    * compare-move-append is atomic on a single filesystem: the winner
    * atomically renames its staged dirs to their final paths and appends
    * its log line; a loser observes the moved log, deletes its staging,
    * and the caller decides (retry / give up). No commit can land inside
    * another's window and no staged file is ever visible pre-commit. */
  private def commitStaged(tableDir: String, base: Seq[Commit], line: String,
      moves: Seq[(java.nio.file.Path, java.nio.file.Path)]): Boolean =
    CommitLock.withLogLock(tableDir) {
      if (commits(tableDir) == base) {
        moves.foreach { case (src, dst) =>
          Files.createDirectories(dst.getParent)
          // an existing destination is provably torn-write garbage: ids are
          // allocated above the log's max, and the log just re-verified as
          // unmoved, so no commit named this dir — clear it and rename over
          deleteDir(dst)
          Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        appendLine(tableDir, line); true
      } else { moves.foreach { case (src, _) => deleteDir(src) }; false }
    }

  /** Rewrite all visible batches whose data dir is smaller than
    * `smallBytes` into ONE new consolidated snapshot with ~`targetBytes`
    * files, preserving the p_date partitioning. No-op (None) unless at
    * least two small snapshots exist. The read+write is a distributed
    * Spark job — at 100 TB scale this is the same shape as an Iceberg
    * rewrite action: scan the small files cluster-wide, repartition to
    * target file count, one atomic commit. Pending equality-deletes are
    * applied while reading the candidates (the compacted copy sits at a
    * later sequence than the deletes, so they correctly stop applying to
    * it, and keep applying to untouched batches). */
  def compact(
      spark: SparkSession,
      tableDir: String,
      smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20): Option[CompactionStats] = {
    val cms = commits(tableDir)
    if (cms.isEmpty) return None
    val candidates = visibleIn(cms).sorted
      .filter(b => dirSize(Paths.get(s"$tableDir/data/batch=$b")) < smallBytes)
    if (candidates.size < 2) return None

    val newId = nextId(cms)
    val totalBytes = candidates.map(b => dirSize(Paths.get(s"$tableDir/data/batch=$b"))).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = IngestJob.readBatches(spark, tableDir, candidates)
    val staged = stagePath(tableDir, "batch", newId)
    // counted on the rewrite itself: no second job over the staged files
    val written = Observation()
    val rows = applyDeletes(spark, tableDir, df, cms).drop("batch")
      .repartition(nFiles, col("p_date"))
      .observe(written, count(lit(1)).as("rows"))
    rows.write.mode("overwrite").partitionBy("p_date").parquet(staged.toString)
    val n = written.get("rows").asInstanceOf[Long]
    val line = s"""{"batch":$newId,"rows":$n,"rejects":0,"committed":true,""" +
      s""""compacts":[${candidates.mkString(",")}]}"""
    if (!commitStaged(tableDir, cms, line,
        Seq(staged -> Paths.get(s"$tableDir/data/batch=$newId"))))
      throw new java.util.ConcurrentModificationException(
        s"compact: $tableDir log moved during compaction; re-run")
    Some(CompactionStats(newId, candidates, n))
  }

  /** Copy-on-write MERGE (Iceberg `MERGE INTO … WHEN MATCHED THEN UPDATE
    * WHEN NOT MATCHED THEN INSERT` analog), PARTITION-SCOPED: upsert
    * `updates` into the table by `key`, rewriting ONLY the snapshots that
    * contain a matched key. The new snapshot is (rows of touched snapshots
    * whose key has no update) ∪ updates, committed as a replacement of the
    * touched snapshots only — untouched snapshot dirs stay visible as-is,
    * so write amplification is bounded by the data actually hit, not table
    * size (Iceberg's file-scoped COW via manifests; our scope unit is the
    * snapshot dir). A pure insert (no matches) rewrites nothing.
    *
    * The touched-set probe is a semi-join that collects BATCH IDS ONLY
    * (bounded by snapshot count, never rows). Update keys ride the
    * equi-join; Catalyst/AQE broadcasts them when small — at 100 TB the
    * update set is MBs against TBs of table.
    *
    * Time travel to the pre-merge state keeps working; replays racing this
    * commit are caught by the optimistic-concurrency check and retried
    * from the new log head. */
  def mergeInto(
      spark: SparkSession,
      tableDir: String,
      updates: DataFrame,
      key: String,
      tsCol: String,
      maxRetries: Int = 3): CompactionStats = {
    var attempt = 0
    while (true) {
      val cms = commits(tableDir)
      val visible = visibleIn(cms)
      require(visible.nonEmpty, s"mergeInto: no visible snapshots in $tableDir")
      val rows = applyDeletes(spark, tableDir, IngestJob.readBatches(spark, tableDir, visible), cms)
      val touched = rows.join(updates.select(col(key)).distinct(), Seq(key), "left_semi")
        .select(col("batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      val dataCols = rows.columns.filterNot(c => c == "batch" || c == "p_date")
      val touchedRows = if (touched.isEmpty) rows.limit(0)
        else rows.filter(col("batch").isInCollection(touched))
      val survivors = touchedRows
        .join(updates.select(col(key)), Seq(key), "left_anti")
        .select(dataCols.map(col).toIndexedSeq: _*)
      val merged = survivors.unionByName(updates.select(dataCols.map(col).toIndexedSeq: _*))
      val newId = nextId(cms)
      val staged = stagePath(tableDir, "batch", newId)
      val written = Observation()
      merged.withColumn("p_date", to_date(col(tsCol)))
        .observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").partitionBy("p_date").parquet(staged.toString)
      val n = written.get("rows").asInstanceOf[Long]
      val line = s"""{"batch":$newId,"rows":$n,"rejects":0,"committed":true,""" +
        s""""compacts":[${touched.mkString(",")}]}"""
      if (commitStaged(tableDir, cms, line,
          Seq(staged -> Paths.get(s"$tableDir/data/batch=$newId"))))
        return CompactionStats(newId, touched, n)
      attempt += 1
      if (attempt >= maxRetries)
        throw new java.util.ConcurrentModificationException(
          s"mergeInto: $tableDir log moved during merge, $maxRetries attempts exhausted")
    }
    sys.error("unreachable")
  }

  /** Merge-on-read MERGE: commit `updates` as a normal data snapshot PLUS an
    * equality-delete file listing the update keys (Iceberg v2 equality
    * deletes). Nothing is rewritten — write cost is O(|updates|) however
    * large the table. Readers apply the delete to rows of earlier lineage
    * positions only, so the update rows themselves (same commit = same
    * sequence) survive. Use when upserts are frequent and scans can afford
    * the anti-join; fold the debt back into data files with
    * [[rewriteDeletes]] on a maintenance schedule. */
  def mergeIntoMor(
      spark: SparkSession,
      tableDir: String,
      updates: DataFrame,
      key: String,
      tsCol: String,
      tombstoneKeys: Option[DataFrame] = None): CompactionStats = {
    val cms = commits(tableDir)
    require(cms.nonEmpty, s"mergeIntoMor: no committed snapshots in $tableDir")
    val newId = nextId(cms)
    val stagedData = stagePath(tableDir, "batch", newId)
    val stagedDel = stagePath(tableDir, "deletes", newId)
    // tombstoneKeys (CDC deletes — E102): keys retired WITHOUT replacement
    // rows. They ride the same equality-delete file as the upsert keys; a
    // pure-tombstone commit carries a delete file and no data snapshot.
    val n0 = updates.count()
    val written = Observation()
    if (n0 > 0)
      updates.withColumn("p_date", to_date(col(tsCol)))
        .observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").partitionBy("p_date").parquet(stagedData.toString)
    val delKeys = tombstoneKeys
      .map(tk => updates.select(col(key)).unionByName(
        tk.select(col(tk.columns.head).as(key))))
      .getOrElse(updates.select(col(key)))
      .distinct()
    delKeys.write.mode("overwrite").parquet(stagedDel.toString)
    val n = if (n0 > 0) written.get("rows").asInstanceOf[Long] else 0L
    val line = s"""{"batch":$newId,"rows":$n,"rejects":0,"committed":true,""" +
      s""""deleteKey":"$key"}"""
    val moves =
      (if (n0 > 0) Seq(stagedData -> Paths.get(s"$tableDir/data/batch=$newId")) else Seq.empty) ++
        Seq(stagedDel -> Paths.get(s"$tableDir/_deletes/$newId"))
    if (!commitStaged(tableDir, cms, line, moves))
      throw new java.util.ConcurrentModificationException(
        s"mergeIntoMor: $tableDir log moved during merge; re-run")
    CompactionStats(newId, Seq.empty, n)
  }

  /** Fold live equality-deletes back into data files (Iceberg's
    * rewrite-with-delete-compaction): rewrite ONLY the visible snapshots
    * that actually contain deleted keys, commit the survivors as one new
    * snapshot replacing them, and retire every live delete file
    * (`retiresDeletes`) — untouched snapshots provably contain no deleted
    * key, so dropping the delete filter for them is safe. None if no live
    * deletes. As-of reads before this commit still see and apply the
    * retired delete files (retirement lives inside the lineage). */
  def rewriteDeletes(spark: SparkSession, tableDir: String): Option[CompactionStats] = {
    val cms = commits(tableDir)
    val dels = liveDeletes(cms)
    if (dels.isEmpty) return None
    val raw = IngestJob.readBatches(spark, tableDir, visibleIn(cms))
    val cleaned = applyDeletes(spark, tableDir, raw, cms)
    // snapshots that lost rows = snapshots holding a key of a later delete
    val touched = {
      import spark.implicits._
      val seqDf = broadcast(cms.map(_.id).zipWithIndex.toDF("_delbatch", "_seq"))
      var probe = raw.join(seqDf, raw("batch").cast("long") === seqDf("_delbatch"), "left")
        .drop("_delbatch")
      val hits = dels.groupBy(_._3).map { case (keyCol, group) =>
        val delDf = deleteKeys(spark, tableDir, raw.schema(keyCol), group)
        probe.join(broadcast(delDf),
            probe(keyCol) === delDf("_delkey") && probe("_seq") < delDf("_delseq"), "left_semi")
          .select(col("batch").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSet
      }.foldLeft(Set.empty[Long])(_ ++ _)
      hits.toSeq.sorted
    }
    val newId = nextId(cms)
    val staged = stagePath(tableDir, "batch", newId)
    // no snapshot holds a deleted key (MOR merge was a pure insert): commit
    // a data-less retire so readers stop paying the delete anti-join
    val n = if (touched.isEmpty) {
      Files.createDirectories(staged); 0L
    } else {
      val written = Observation()
      cleaned.filter(col("batch").isInCollection(touched)).drop("batch")
        .observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").partitionBy("p_date").parquet(staged.toString)
      written.get("rows").asInstanceOf[Long]
    }
    val line = s"""{"batch":$newId,"rows":$n,"rejects":0,"committed":true,""" +
      s""""compacts":[${touched.mkString(",")}],""" +
      s""""retiresDeletes":[${dels.map(_._2).mkString(",")}]}"""
    if (!commitStaged(tableDir, cms, line,
        Seq(staged -> Paths.get(s"$tableDir/data/batch=$newId"))))
      throw new java.util.ConcurrentModificationException(
        s"rewriteDeletes: $tableDir log moved; re-run")
    Some(CompactionStats(newId, touched, n))
  }

  /** Physically delete the data dirs of compacted-away snapshots (ends
    * time travel to them — run on a retention schedule, as with Iceberg's
    * expire_snapshots). Returns the deleted batch ids. Delete files are
    * kept (keys-only, KBs) so lineage replay stays well-defined. */
  def expireSnapshots(tableDir: String): Seq[Long] = {
    val dead = replacedBatches(tableDir).toSeq.sorted
    dead.filter { b =>
      val dir = Paths.get(s"$tableDir/data/batch=$b")
      if (!Files.exists(dir)) false
      else { deleteDir(dir); true }
    }
  }
}
