package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Table maintenance for the ingest table: small-file compaction, snapshot
  * expiry, and MERGE (the roles Iceberg's `rewrite_data_files` /
  * `expire_snapshots` / `MERGE INTO` play for the reference's
  * translator-written tables — every 10 s trigger commits a snapshot
  * (`redpanda/redpanda.yaml:11`), so a day-old table holds thousands of tiny
  * parquet files and a scan pays one task + one footer-read per file).
  *
  * Log design: every maintenance commit appends a normal commit line; a
  * `compacts` field lists the batch ids it replaces, and a compaction's line
  * is marked row-preserving (a merge's is not). Visibility = committed
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
  * filesystem: every writer stages its files at a unique nonce'd path, and
  * the commit compares the log against the base it computed from, renames
  * the staged dirs into place and appends its line, atomically
  * ([[CommitLog.commitStaged]]). A loser deletes its staging and aborts;
  * [[mergeInto]] retries from the new log head and throws after
  * `maxRetries`.
  */
object Maintenance {
  import CommitLog.{Commit, commits, visibleIn, liveDeletes}

  case class CompactionStats(newBatch: Long, replaced: Seq[Long], rowsRewritten: Long)

  /** Compaction snapshot ids live in a disjoint high range: the streaming
    * checkpoint's batch counter owns the low range, and an id collision
    * would make the ingest guard silently skip a real data batch (or write
    * into the compaction's data dir). */
  val CompactionIdBase = 1000000000000L

  /** Currently visible batch ids: committed minus compacted-away. */
  def visibleBatches(tableDir: String): Set[Long] = visibleIn(commits(tableDir)).toSet

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
      spark.read.schema(StructType(Seq(key))).parquet(CommitLog.deletesDir(tableDir, id))
        .select(col(key.name).as("_delkey"), lit(seq).as("_delseq"))
    }.reduce(_ unionByName _)

  private def nextId(cms: Seq[Commit]): Long =
    math.max(CompactionIdBase, cms.map(_.id).max + 1)

  /** Write `df` partitioned by `p_date` to `dir`, counting its rows on the
    * write itself: no second job over the written files. `perFile` caps the
    * rows of one file (0: no cap). */
  private def writeCounted(df: DataFrame, dir: java.nio.file.Path, perFile: Long = 0L): Long = {
    val written = Observation()
    val w = df.observe(written, count(lit(1)).as("rows")).write.mode("overwrite").partitionBy("p_date")
    (if (perFile > 0) w.option("maxRecordsPerFile", perFile) else w).parquet(dir.toString)
    written.get("rows").asInstanceOf[Long]
  }

  /** Merge all visible batches whose data files sum to less than
    * `smallBytes` into ONE new snapshot, preserving the p_date partitioning
    * and splitting each date into files of about `targetBytes`. No-op (None)
    * unless at least two small snapshots exist. Each candidate is listed
    * once; that listing decides the candidates, the output files and what
    * is copied. One of two ways, each a single Spark job followed by one
    * atomic commit:
    *  - copy, when the merge is a pure concatenation: no live equality
    *    delete, and every file carries the same parquet schema and the same
    *    Spark footer entries ([[copyPlan]]). The files' column chunks are
    *    copied byte for byte, with their statistics, column and offset
    *    indexes and bloom filters, one task per output file; nothing is
    *    decoded, shuffled or re-encoded, so a round costs one sequential
    *    copy of the small batches. Row groups keep the size ingest gave
    *    them: compaction cuts the file count, not the row-group count. The
    *    output passes the same check, so the next round copies it again.
    *  - rewrite, otherwise (live MOR deletes, or candidates written under
    *    different schemas): the candidates are read in lineage order, so
    *    the compacted copy keeps the table's column order; pending
    *    equality-deletes are applied while reading (the compacted copy sits
    *    at a later sequence than the deletes, so they stop applying to it
    *    and keep applying to untouched batches); the rows are re-encoded
    *    into ~`targetBytes` files, sized by the candidates' rows per byte,
    *    each date by as many write tasks of its own as it fills such files.
    * Either way the commit is row-preserving: the new batch holds exactly
    * the candidates' visible rows, so a fold over them stays valid
    * ([[CommitLog.appendedSince]]).
    * At 100 TB scale either is the shape of an Iceberg rewrite action: the
    * small files are processed cluster-wide and committed once. */
  def compact(
      spark: SparkSession,
      tableDir: String,
      smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20): Option[CompactionStats] = {
    val cms = commits(tableDir)
    if (cms.isEmpty) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val visible = visibleIn(cms)
    val (ids, listed) = visible.zip(IngestJob.batchFiles(conf, tableDir, visible))
      .filter { case (_, (_, files)) => files.map(_.getLen).sum < smallBytes }.unzip
    if (ids.size < 2) return None

    val newId = nextId(cms)
    val staged = CommitLog.stageData(tableDir, newId)
    val n = copyPlan(conf, cms, listed, targetBytes) match {
      case Some(outputs) => copyChunks(spark, outputs, staged)
      case None =>
        val files = listed.flatMap(_._2)
        val bytes = files.map(_.getLen).sum
        val rows = cms.filter(c => ids.contains(c.id)).map(_.rows).sum
        val perFile = if (rows == 0 || bytes == 0) 0L
          else math.max(1L, math.ceil(targetBytes.toDouble * rows / bytes).toLong)
        // each date gets its own write tasks, as many as it fills
        // ~targetBytes files (from its input bytes, by `p_date=` dir), and
        // its rows are dealt round robin over them
        val share = files.groupBy(_.getPath.getParent.getName.stripPrefix("p_date="))
          .map { case (d, fs) => d -> math.max(1L, (fs.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt }
          .toSeq.sorted
        val first = share.map(_._1).zip(share.scanLeft(0)(_ + _._2)).toMap
        val date = col("p_date").cast("string")
        val task = coalesce(try_element_at(typedLit(first), date) +
          pmod(monotonically_increasing_id(), try_element_at(typedLit(share.toMap), date)).cast("int"), lit(0))
        writeCounted(applyDeletes(spark, tableDir, IngestJob.readBatches(spark, tableDir, ids), cms)
          .drop("batch").repartitionById(share.map(_._2).sum, task),
          staged, perFile)
    }
    val replaced = ids.sorted
    // either way the new batch holds exactly the candidates' visible rows
    if (!CommitLog.commitStaged(tableDir, cms,
        Commit(newId, n, replaces = Some(replaced), rowPreserving = true), staged))
      throw new java.util.ConcurrentModificationException(
        s"compact: $tableDir log moved during compaction; re-run")
    Some(CompactionStats(newId, replaced, n))
  }

  /** The compaction of `candidates` (batch dir, files; lineage order) as a
    * byte copy, when it is a pure concatenation: `prefix` holds no live
    * equality delete, and every file has the same parquet schema and the
    * same `org.apache.spark.*` footer entries (the Spark row schema, the
    * writer's version, the legacy-datetime flags). Each partition dir's
    * files, in lineage order, are packed into outputs of at most
    * `targetBytes` (a larger file is an output by itself). Returns
    * (partition dir relative to the batch dir, files) per output file;
    * None when the rows must be rewritten. */
  private[graft] def copyPlan(conf: Configuration, prefix: Seq[Commit],
      candidates: Seq[(Path, Array[FileStatus])],
      targetBytes: Long): Option[Seq[(String, Seq[FileStatus])]] = {
    val files = candidates.flatMap { case (dir, fs) =>
      fs.toSeq.map(f => dir.toUri.relativize(f.getPath.getParent.toUri).getPath -> f)
    }
    def layout(f: FileStatus) = {
      val meta = IngestJob.fileMeta(conf, f)
      (meta.getSchema, meta.getKeyValueMetaData.asScala.filter(_._1.startsWith("org.apache.spark.")).toMap)
    }
    if (liveDeletes(prefix).nonEmpty || files.isEmpty || files.map(f => layout(f._2)).distinct.size > 1)
      None
    else Some(files.map(_._1).distinct.flatMap { part =>
      files.filter(_._1 == part).map(_._2).foldLeft(Vector.empty[Vector[FileStatus]]) {
        case (outs :+ last, f) if last.map(_.getLen).sum + f.getLen <= targetBytes => outs :+ (last :+ f)
        case (outs, f) => outs :+ Vector(f)
      }.map(part -> _)
    })
  }

  /** Write each output of a [[copyPlan]] under `staged` by copying its files'
    * row groups in order, column chunk by column chunk, with their bloom
    * filters, column and offset indexes: one Spark task per output file, one
    * job. Each output's footer has its inputs' parquet schema and key-value
    * entries. Returns the rows copied (the row groups' row counts). */
  private[graft] def copyChunks(spark: SparkSession, outputs: Seq[(String, Seq[FileStatus])],
      staged: java.nio.file.Path): Long = {
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val name = s"${java.util.UUID.randomUUID()}.c000.parquet"
    val root = new Path(staged.toString)
    val tasks = outputs.zipWithIndex.map { case ((part, files), i) =>
      (new Path(if (part.isEmpty) root else new Path(root, part), f"part-$i%05d-$name").toString, files)
    }
    spark.sparkContext.parallelize(tasks, tasks.size)
      .map { case (out, files) => copyFile(conf.value, new Path(out), files) }
      .collect().sum
  }

  private def copyFile(conf: Configuration, out: Path, files: Seq[FileStatus]): Long = {
    val meta = IngestJob.fileMeta(conf, files.head)
    val schema = meta.getSchema
    val w = new ParquetFileWriter(HadoopOutputFile.fromPath(out, conf), schema,
      ParquetFileWriter.Mode.OVERWRITE, ParquetWriter.DEFAULT_BLOCK_SIZE, 0)
    try {
      w.start()
      val rows = files.map { f =>
        val in = HadoopInputFile.fromStatus(f, conf)
        val r = ParquetFileReader.open(in)
        val s = in.newStream()
        try r.getRowGroups.asScala.map { rg =>
          w.startBlock(rg.getRowCount)
          rg.getColumns.asScala.foreach(c => w.appendColumnChunk(
            schema.getColumnDescription(c.getPath.toArray), s, c,
            r.readBloomFilter(c), r.readColumnIndex(c), r.readOffsetIndex(c)))
          w.endBlock()
          rg.getRowCount
        }.sum
        finally { s.close(); r.close() }
      }.sum
      w.end(meta.getKeyValueMetaData)
      rows
    } finally w.close()
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
      val staged = CommitLog.stageData(tableDir, newId)
      val n = writeCounted(merged.withColumn("p_date", to_date(col(tsCol))), staged)
      if (CommitLog.commitStaged(tableDir, cms,
          Commit(newId, n, replaces = Some(touched)), staged))
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
    val stagedData = CommitLog.stageData(tableDir, newId)
    val stagedDel = CommitLog.stageDeletes(tableDir, newId)
    // tombstoneKeys (CDC deletes — E102): keys retired WITHOUT replacement
    // rows. They ride the same equality-delete file as the upsert keys; a
    // pure-tombstone commit carries a delete file and an empty data dir.
    val n = if (updates.count() > 0)
      writeCounted(updates.withColumn("p_date", to_date(col(tsCol))), stagedData)
    else { Files.createDirectories(stagedData); 0L }
    val delKeys = tombstoneKeys
      .map(tk => updates.select(col(key)).unionByName(
        tk.select(col(tk.columns.head).as(key))))
      .getOrElse(updates.select(col(key)))
      .distinct()
    delKeys.write.mode("overwrite").parquet(stagedDel.toString)
    if (!CommitLog.commitStaged(tableDir, cms,
        Commit(newId, n, deleteKey = Some(key)), stagedData, Some(stagedDel)))
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
    val staged = CommitLog.stageData(tableDir, newId)
    // no snapshot holds a deleted key (MOR merge was a pure insert): commit
    // a data-less retire so readers stop paying the delete anti-join
    val n = if (touched.isEmpty) {
      Files.createDirectories(staged); 0L
    } else writeCounted(cleaned.filter(col("batch").isInCollection(touched)).drop("batch"), staged)
    if (!CommitLog.commitStaged(tableDir, cms,
        Commit(newId, n, replaces = Some(touched), retires = dels.map(_._2)), staged))
      throw new java.util.ConcurrentModificationException(
        s"rewriteDeletes: $tableDir log moved; re-run")
    Some(CompactionStats(newId, touched, n))
  }

  /** Physically delete the data dirs of compacted-away snapshots (ends
    * time travel to them — run on a retention schedule, as with Iceberg's
    * expire_snapshots). Returns the deleted batch ids. Delete files are
    * kept (keys-only, KBs) so lineage replay stays well-defined. */
  def expireSnapshots(tableDir: String): Seq[Long] =
    commits(tableDir).flatMap(_.compacts).distinct.sorted.filter { b =>
      val dir = Paths.get(CommitLog.batchDir(tableDir, b))
      if (!Files.exists(dir)) false
      else { CommitLog.deleteDir(dir); true }
    }
}
