package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{Column, DataFrame, GraftExprBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, DateType, LongType, StructField, StructType}

/** A3 — the continuous JSON→columnar ingest operator (the role Redpanda's
  * datalake translator plays in the reference: validate against the topic
  * schema, flatten to columns, write parquet, commit a snapshot every
  * `iceberg_target_lag_ms` — `redpanda/redpanda.yaml:1-12`, `CLAUDE.md:160-177`).
  *
  * Spark-first shape: readStream(topic) → foreachBatch { decode →
  * required-field filter → date-partitioned parquet append + commit-log
  * append }, one driver ([[drive]]) for all topic modes; a mode supplies
  * only its decode and partition column. Each trigger is one scan of its
  * topic batch and one Spark job: the committed row and reject counts are
  * an [[Observation]] on the write.
  *
  *  - Exactly-once: foreachBatch is wrapped in a batchId check against the
  *    commit log ([[CommitLog]]; the reference gets this from Iceberg's
  *    atomic commit, `README.md:752-757`); a replayed batch after restart
  *    is skipped.
  *  - Schema enforcement (A7): rows whose JSON fails to parse or misses a
  *    required field are diverted to a reject count, not dropped silently
  *    (the registry's "schema must exist before data" contract,
  *    `CLAUDE.md:350-351`).
  *  - 100 TB design: the table is partitioned by event date so downstream
  *    time-range queries prune partitions; within a micro-batch we do NOT
  *    coalesce — file count per trigger = shuffle parallelism, compaction is
  *    a separate concern.
  *  - Reads resolve through the commit log ([[readBatches]]): the visible
  *    batch dirs are listed on the driver and the schema comes from one
  *    footer per batch, so resolving a table fires no Spark job.
  */
object IngestJob {
  /** Parquet file size cap of the ingest writer (D2 flush-threshold analog:
    * redpanda.yaml:31-32 caps Parquet file size by bytes; Spark's file sink
    * caps by records). */
  private val MaxRecordsPerFile = 1000000L

  /** Every snapshot id of the table's commit log: the exactly-once guard. */
  def committedBatches(tableDir: String): Set[Long] =
    CommitLog.commits(tableDir).map(_.id).toSet

  /** Start the ingest stream: topic → parquet table at tableDir.
    * @param required names that must be non-null post-parse (A7 enforcement)
    * @param tsCol event-time column used for date partitioning
    */
  def start(
      spark: SparkSession,
      source: TopicSource,
      tableDir: String,
      schema: StructType,
      required: Seq[String],
      tsCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) =
    drive(spark, source, tableDir, checkpointDir, trigger, required, to_date(col(tsCol)))(
      parseJson(_, schema))

  /** A7 complete — registry-backed ingest (`value_schema_latest`,
    * CLAUDE.md:165-171): the stream carries the raw envelope and each
    * micro-batch decodes with the LATEST registered schema at that moment,
    * so a v2 registered mid-stream applies from the next batch without a
    * restart; rows already written under v1 read null for v2-only columns
    * (the footer union of [[readBatches]]). Refuses to start for an unregistered
    * subject — the registry's "schema must exist before data" contract
    * (validation/e2e.sh:67-105, CLAUDE.md:350-351). */
  def startWithRegistry(
      spark: SparkSession,
      source: TopicSource,
      tableDir: String,
      registry: SchemaRegistry,
      subject: String,
      required: Seq[String],
      tsCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) = {
    registry.latestOrThrow(subject) // schema-before-data
    drive(spark, source, tableDir, checkpointDir, trigger, required, to_date(col(tsCol)))(
      batch => parseJson(batch, registry.latestOrThrow(subject)._2))
  }

  /** `key_value` topic mode (CLAUDE.md:165-171): NO decode — the raw
    * key/value pair lands as two BinaryType columns, partitioned by
    * processing date (a raw dump has no event time; this is the Kafka
    * connector convention for opaque topics). Same idempotent
    * write + snapshot-commit protocol as the decoded modes, so
    * exactly-once, time travel, and maintenance all apply unchanged.
    * Casting string→binary is UTF-8 on the file topic; a real Kafka
    * source hands binary natively and the casts are no-ops. */
  def startKeyValue(
      spark: SparkSession,
      source: TopicSource,
      tableDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) =
    drive(spark, source, tableDir, checkpointDir, trigger, Seq("value"), current_date())(
      _.select(col("key").cast("binary").as("key"), col("value").cast("binary").as("value")))

  /** `value_schema_id_prefix` topic mode (CLAUDE.md:165-171): each value is
    * magic 0x00 + 4-byte schema id + Avro binary, decoded per batch through
    * [[AvroCodec]] with the REGISTRY schema named by the embedded id — so a
    * batch can mix versions (v1 rows decode under v1 mid-upgrade) and a v2
    * registered mid-stream applies to v2-stamped records with no restart.
    * Values that fail the envelope or Avro decode divert to the reject
    * count, same contract as JSON parse failure.
    *
    * The decode is a per-partition kernel (mapPartitions): one
    * GenericDatumReader per (partition, schema id), not per row — the same
    * codec-seam placement as the multimodal decoders; there is no
    * spark-avro DataSource in this build and a codec is not a Catalyst
    * Expression. Decoded columns follow the LATEST registered schema
    * (rows of older versions read null for later-added fields — BACKWARD
    * compat guarantees they're nullable). */
  def startAvroWithRegistry(
      spark: SparkSession,
      source: TopicSource,
      tableDir: String,
      registry: SchemaRegistry,
      subject: String,
      required: Seq[String],
      tsCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) = {
    registry.latestOrThrow(subject) // schema-before-data
    drive(spark, source, tableDir, checkpointDir, trigger, required, to_date(col(tsCol)))(
      decodeAvroBatch(_, registry, subject).drop("key"))
  }

  /** The data columns of a JSON-valued batch under `schema`. */
  private def parseJson(batch: DataFrame, schema: StructType): DataFrame =
    batch.select(from_json(col("value"), schema).as("data")).select(col("data.*"))

  /** The one ingest stream every topic mode runs: each micro-batch whose id
    * the commit log does not hold yet is decoded by `decode` and written by
    * [[writeBatch]]; a replayed batch is skipped. */
  private def drive(spark: SparkSession, source: TopicSource, tableDir: String,
      checkpointDir: String, trigger: Trigger, required: Seq[String], partCol: Column)(
      decode: DataFrame => DataFrame): StreamingQuery =
    source.readStream(spark).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!committedBatches(tableDir).contains(batchId))
          writeBatch(decode(batch), tableDir, batchId, required, partCol)
        ()
      }
      .start()

  /** Decode one micro-batch of (key, base64-or-binary value) rows under the
    * registry's schemas. Exposed for tests; the streaming path calls it per
    * batch. Undecodable values become all-null rows (rejected by the
    * required-field filter downstream, counted as rejects). */
  private[streaming] def decodeAvroBatch(
      batch: DataFrame, registry: SchemaRegistry, subject: String): DataFrame = {
    val (latestV, latestSt) = registry.latestOrThrow(subject)
    // writer schemas resolve on the DRIVER (the registry dir may not exist
    // on executors); versions are few — ship them in the closure
    val writers: Map[Int, StructType] =
      registry.versions(subject).flatMap(v => registry.get(subject, v).map(v -> _)).toMap
    val latestFields = latestSt.fieldNames.toIndexedSeq
    // all-nullable output: reject rows are all-null (the required-field
    // filter drops them); declared non-null fields would make the encoder
    // throw on exactly the rows the reject path exists for
    val outSchema = StructType(
      StructField("key", org.apache.spark.sql.types.StringType) +:
        latestSt.fields.toIndexedSeq.map(_.copy(nullable = true)))
    val raw = batch.select(col("key").cast("string"),
      unbase64(col("value").cast("string")).as("raw"))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    raw.mapPartitions { it =>
      // per-partition reader cache: one Avro Schema + reader per schema id
      val cache = scala.collection.mutable.HashMap.empty[Int, (StructType, org.apache.avro.Schema)]
      it.map { r =>
        val key = r.getString(0)
        val decoded: Option[Row] =
          try {
            val bytes = r.getAs[Array[Byte]](1)
            val id = AvroCodec.schemaIdOf(bytes)
            val (wSt, wAvro) = cache.getOrElseUpdate(id, {
              val st = writers.getOrElse(id, throw new IllegalStateException(
                s"schema id $id not registered for subject '$subject'"))
              (st, AvroCodec.avroSchema(subject, st))
            })
            val row = AvroCodec.decode(bytes, wSt, wAvro)
            val byName = wSt.fieldNames.zip(row.toSeq).toMap
            Some(Row.fromSeq(latestFields.map(byName.getOrElse(_, null))))
          } catch { case scala.util.control.NonFatal(_) => None }
        decoded match {
          case Some(d) => Row.fromSeq(key +: d.toSeq)
          case None => Row.fromSeq(key +: latestFields.map(_ => null))
        }
      }
    }(enc)
  }

  /** The idempotent per-batch table write + snapshot commit: rows missing a
    * `required` column are counted as rejects, the rest are written under
    * `batch=<batchId>`, partitioned by `partCol` (event date for decoded
    * modes, processing date for key_value). */
  private def writeBatch(
      batch: DataFrame, tableDir: String, batchId: Long,
      required: Seq[String], partCol: Column): Unit = {
    val ok = required.map(col(_).isNotNull).reduceOption(_ && _).getOrElse(lit(true))
    // both counts ride the write's own scan: observed on the unfiltered
    // batch, so the topic batch is read once, by one job
    val counts = Observation()
    batch.observe(counts, count(lit(1)).as("all"), count(when(ok, 1)).as("good"))
      .filter(ok).withColumn("p_date", partCol)
      // OVERWRITE of this batch's directory, not append: a replay
      // after a crash between data write and snapshot commit rewrites
      // the same files instead of duplicating them — the write is
      // idempotent per batch id, the commit-log check makes it
      // exactly-once, and readTable filters to committed batches so
      // a torn write is never visible
      .write.mode("overwrite").partitionBy("p_date")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      // batch=<id> directory = the snapshot boundary: time-travel
      // reads prune on it (Iceberg's VERSION AS OF equivalent)
      .parquet(CommitLog.batchDir(tableDir, batchId))
    val m = counts.get
    val (nAll, nGood) = (m("all").asInstanceOf[Long], m("good").asInstanceOf[Long])
    CommitLog.append(tableDir, CommitLog.Commit(batchId, nGood, nAll - nGood))
  }

  /** Read the ingested table at its current snapshot (A4 scan stand-in —
    * the commit log plays the catalog; a real Iceberg REST catalog swaps in
    * behind this call). Only COMMITTED batches are visible — a batch whose
    * data landed but whose snapshot commit didn't is invisible until its
    * replay completes (the snapshot log is the source of truth, as in
    * Iceberg). */
  def readTable(spark: SparkSession, tableDir: String): DataFrame = {
    // visible = committed − compacted-away (Maintenance.compact rewrites
    // small snapshots into one and records what it replaced); live
    // equality-delete files (merge-on-read MERGE) are applied on top — a
    // no-op unless an un-rewritten MOR merge exists.
    val log = CommitLog.identity(tableDir)
    val cms = CommitLog.commits(tableDir)
    val visible = CommitLog.visibleIn(cms)
    val listed = batchFiles(spark.sparkContext.hadoopConfiguration, tableDir, visible)
    val df = Maintenance.applyDeletes(spark, tableDir, readListed(spark, tableDir, listed), cms)
      .drop("p_date").drop("batch")
    reads.synchronized(reads.put(df,
      Read(Paths.get(tableDir).toAbsolutePath.normalize.toString, log, cms, visible.zip(listed).toMap)))
    df
  }

  /** A [[readTable]] result: its table dir (absolute), the log it read
    * ([[CommitLog.identity]]), the lineage prefix it resolved and the files
    * it listed per visible batch. The DataFrame holds exactly the rows of
    * those files, less the deletes live after `prefix`. */
  final case class Read(tableDir: String, log: Option[String], prefix: Seq[CommitLog.Commit],
      files: Map[Long, (Path, Array[FileStatus])])

  /** Every live [[readTable]] result, held weakly (DataFrame identity: a
    * derived DataFrame is not a table read). */
  private val reads = new java.util.WeakHashMap[DataFrame, Read]()

  /** The table read `df` is, if [[readTable]] returned it. */
  def readOf(df: DataFrame): Option[Read] = reads.synchronized(Option(reads.get(df)))

  /** The named snapshots of a table as one DataFrame: the data columns,
    * then `batch` (long) and `p_date` (date), both read from the paths.
    * The commit log, not a directory scan, decides what is read:
    *  - files: only the named `batch=` dirs are listed, on the driver, so a
    *    compacted-away or uncommitted dir is never touched, and a table of
    *    any snapshot count resolves without Spark's parallel-listing job;
    *  - schema: the Spark row schema in the footer of one file per batch,
    *    columns in the order they first appear in `batches` — pass them in
    *    lineage order. A column added by a later registered schema
    *    (`value_schema_latest`) reads null for rows written before it
    *    existed.
    * No Spark job fires until the result is scanned. */
  def readBatches(spark: SparkSession, tableDir: String, batches: Seq[Long]): DataFrame =
    readListed(spark, tableDir, batchFiles(spark.sparkContext.hadoopConfiguration, tableDir, batches))

  /** [[readBatches]] over batch dirs already listed by [[batchFiles]]. */
  private[streaming] def readListed(spark: SparkSession, tableDir: String,
      listed: Seq[(Path, Array[FileStatus])]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = dataSchema(conf, tableDir, listed.flatMap(_._2.headOption))
    val schema = data.add("batch", LongType).add("p_date", DateType)
    if (listed.forall(_._2.isEmpty))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      val index = fixedIndex(spark, listed, Map("basePath" -> CommitLog.dataDir(tableDir)), schema)
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, data,
        None, new ParquetFileFormat, Map.empty)(spark))
    }
  }

  /** A file index over files listed up front: each root path serves its
    * listed files, so Spark never lists and the file set never changes. */
  private[graft] def fixedIndex(spark: SparkSession, listed: Seq[(Path, Array[FileStatus])],
      options: Map[String, String], schema: StructType): InMemoryFileIndex = {
    val leaves = listed.toMap
    new InMemoryFileIndex(spark, listed.map(_._1), options, Some(schema),
      new FileStatusCache {
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] = leaves.get(p)
        override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      })
  }

  /** The data schema of a table from the footers of `files` (one per
    * snapshot is enough: a snapshot is written in one schema): columns in
    * the order they first appear, all nullable, as every file source reads
    * them. A type change fails loudly and names the column. */
  private[graft] def dataSchema(conf: Configuration, table: String,
      files: Seq[FileStatus]): StructType = {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    for (f <- files; sf <- footerSchema(conf, f).fields)
      fields.get(sf.name) match {
        case None => fields(sf.name) = sf
        case Some(seen) => require(seen.dataType == sf.dataType,
          s"$table: column ${sf.name} is ${seen.dataType} in one snapshot and " +
            s"${sf.dataType} in ${f.getPath}; type-changing schema evolution is unsupported")
      }
    GraftExprBridge.asNullable(StructType(fields.values.toSeq))
  }

  /** The parquet files of each batch dir, sorted by path; a batch without a
    * data dir (a delete-only merge commit) lists none. */
  private[graft] def batchFiles(conf: Configuration, tableDir: String,
      batches: Seq[Long]): Seq[(Path, Array[FileStatus])] = {
    val fs = new Path(tableDir).getFileSystem(conf)
    batches.map { b =>
      val dir = fs.makeQualified(new Path(CommitLog.batchDir(tableDir, b)))
      dir -> (try parquetFiles(fs, dir)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
    }
  }

  /** The data files under `dir`, at any depth, sorted by path. */
  private[graft] def parquetFiles(fs: FileSystem, dir: Path): Array[FileStatus] = {
    def leaves(p: Path): Array[FileStatus] = fs.listStatus(p).flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory) leaves(st.getPath)
      else if (name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")) Array(st)
      else Array.empty[FileStatus]
    }
    leaves(dir).sortBy(_.getPath.toString)
  }

  /** The Spark row schema Spark's parquet writer stores in every footer.
    * For another writer's file, the parquet schema's conversion with INT64
    * timestamps read as TIMESTAMP in every session (Engine's
    * `inferTimestampNTZ=false`); TIMESTAMP(NANOS) has no Spark type, so
    * such a column fails here ([[graft.Tables.t]] truncates it to µs). */
  private def footerSchema(conf: Configuration, f: FileStatus): StructType = {
    val meta = fileMeta(conf, f)
    Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse {
        import scala.jdk.CollectionConverters._
        meta.getSchema.getColumns.asScala.find(_.getPrimitiveType.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
          case _ => false
        }).foreach(c => throw new IllegalArgumentException(
          s"${f.getPath}: column ${c.getPath.mkString(".")} is TIMESTAMP(NANOS), which " +
            "Spark's parquet reader cannot read as a timestamp; read it through graft.Tables.t"))
        val sql = SQLConf.get.clone()
        sql.setConfString("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        new ParquetToSparkSchemaConverter(sql).convert(meta.getSchema)
      }
  }

  /** A parquet file's footer without its row groups: the parquet schema and
    * the key-value entries. */
  private[graft] def fileMeta(conf: Configuration, f: FileStatus): FileMetaData = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), HadoopReadOptions
      .builder(conf).withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try r.getFooter.getFileMetaData finally r.close()
  }

  /** Time travel (A5: "snapshot-id ≈ our snapshot-log head"; Iceberg
    * `VERSION AS OF` equivalent): the table as of snapshot `batchId` —
    * directory-level partition pruning on batch=<id>, no data read beyond
    * the requested snapshots. */
  def readTableAsOf(spark: SparkSession, tableDir: String, batchId: Long): DataFrame = {
    // Replay the snapshot log IN APPEND ORDER up to and including batchId's
    // commit: each ingest line adds its batch, each compaction line adds its
    // consolidated batch and retires the ones it replaced. Ids are not
    // comparable across ingest/maintenance namespaces, so lineage position —
    // not id order — defines "as of" (Iceberg's snapshot-lineage contract).
    val lin = CommitLog.commits(tableDir)
    require(lin.exists(_.id == batchId),
      s"snapshot $batchId not in the commit log of $tableDir")
    val upTo = lin.take(lin.indexWhere(_.id == batchId) + 1)
    val asOf = CommitLog.visibleIn(upTo)
    // expireSnapshots physically deletes replaced dirs but the log still
    // lists them; an as-of read spanning an expired snapshot must fail
    // loudly (Iceberg: "Cannot find snapshot"), not silently return the
    // surviving subset of rows. expireSnapshots deletes only snapshots the
    // log says were replaced, so only those can be expired; any other
    // commit without a data dir wrote none (a delete-only MOR commit).
    val replaced = lin.flatMap(_.compacts).toSet
    val expired = asOf.filter(b =>
      replaced(b) && !Files.isDirectory(Paths.get(CommitLog.batchDir(tableDir, b))))
    require(expired.isEmpty,
      s"snapshot $batchId expired: data for batch(es) ${expired.sorted.mkString(",")} " +
        s"deleted by expireSnapshots; time travel to this version is no longer possible")
    // apply only the delete files and retirements INSIDE the prefix: the
    // as-of view is exactly what a reader at that commit would have seen
    Maintenance.applyDeletes(spark, tableDir, readBatches(spark, tableDir, asOf), upTo)
      .drop("p_date").drop("batch")
  }
}
