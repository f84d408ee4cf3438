package graft.sources

import java.util

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.{CommitLog, IngestJob}

/** DataSource V2 connector for the DATA side of the engine's tables — the
  * companion of [[CommitLogSource]] (which serves the metadata side):
  *
  * {{{
  *   spark.read.format("graft").load(path)
  * }}}
  *
  * `path` is either a plain parquet file/directory (the testdata layout,
  * `dir/name.parquet`) or an ingested snapshot table directory (the
  * commit-log layout `graft.streaming.CommitLog` owns): for a snapshot
  * table the connector resolves
  * CURRENTLY VISIBLE batches through the commit log — committed minus
  * compacted-away, in lineage order — exactly like `IngestJob.readTable`.
  * Tables with live un-rewritten MOR equality-deletes refuse loudly
  * (compact first): a data scan cannot apply deletes without the join
  * `Maintenance.applyDeletes` plans, and silently returning undeleted rows
  * would be wrong.
  *
  * The connector is only the resolve: files and data schema, from the
  * commit log and the footers (`IngestJob.dataSchema`: columns in
  * first-appearance order, a type change fails, INT64 timestamps read as
  * TIMESTAMP, a TIMESTAMP(NANOS) column fails). Below it runs Spark's own
  * vectorized parquet scan (`ParquetTable`): column pruning, filter
  * pushdown and size statistics, over exactly the resolved files. No
  * listing job, no schema inference, and the file list is fixed for the
  * relation's lifetime: a commit landing between two actions on one
  * DataFrame does not change what it reads; a new load sees it.
  *
  * Swap-in note (SCALING.md): this connector IS the seam where a real
  * Iceberg/REST catalog plugs in — `resolveFiles` becomes a manifest read,
  * the scan below it is unchanged.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  // one load calls inferSchema, then getTable: both answer from the same
  // resolve, so one snapshot's files are never paired with another's schema
  private var loaded: Option[(String, Table)] = None

  override def shortName(): String = "graft"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "graft: .load(<path>) is required")
    val t = GraftDataSource.table(SparkSession.active, path)
    loaded = Some(path -> t)
    t.schema()
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    val t = loaded.collect { case (`path`, t) => t }
      .getOrElse(GraftDataSource.table(SparkSession.active, path))
    loaded = None
    t
  }
  override def supportsExternalMetadata(): Boolean = false
}

object GraftDataSource {
  /** Resolve `path` to its data files and their data schema (class doc). */
  def resolveFiles(spark: SparkSession, path: String): (Seq[FileStatus], StructType) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // the commit log is a local file: a `file:` URI names it by its path
    val local = if (fs.getScheme == "file") Path.getPathWithoutSchemeAndAuthority(root).toString else path
    val groups: Seq[Array[FileStatus]] =
      if (CommitLog.isTable(local)) {
        val cms = CommitLog.commits(local)
        val live = CommitLog.liveDeletes(cms)
        require(live.isEmpty,
          s"graft: $path has live equality-delete files (snapshots " +
            s"${live.map(_._2).mkString(",")}); the data connector cannot apply " +
            "MOR deletes — run Maintenance.rewriteDeletes/compact first or read " +
            "via IngestJob.readTable")
        IngestJob.batchFiles(conf, local, CommitLog.visibleIn(cms)).map(_._2)
      } else {
        val st = fs.getFileStatus(root)
        Seq(if (st.isDirectory) IngestJob.parquetFiles(fs, st.getPath) else Array(st))
      }
    val files = groups.flatten
    require(files.nonEmpty, s"graft: no parquet files resolved under $path")
    (files, IngestJob.dataSchema(conf, path, groups.flatMap(_.headOption)))
  }

  /** Spark's parquet table over one resolve of `path`. */
  def table(spark: SparkSession, path: String): Table = {
    val (files, schema) = resolveFiles(spark, path)
    new ResolvedTable(spark, path, files, schema)
  }
}

/** Spark's `ParquetTable` over one resolve: its file index serves the
  * resolved files, read with the resolved schema — no listing, no
  * inference, no partition columns. Only its scan is exposed: Spark writes
  * any `FileTable` an INSERT names through its V1 file writer, whatever the
  * table's capabilities say (an INSERT OVERWRITE would first delete the
  * table dir), and these tables are written by the commit protocol alone. */
private class ResolvedTable(spark: SparkSession, path: String, files: Seq[FileStatus],
    resolvedSchema: StructType) extends Table with SupportsRead {
  private val parquet = new ParquetTable(s"graft:$path", spark, CaseInsensitiveStringMap.empty(),
      Seq(path), Some(resolvedSchema), classOf[ParquetFileFormat]) {
    override lazy val fileIndex: PartitioningAwareFileIndex = IngestJob.fixedIndex(spark,
      Seq(new Path(path) -> files.toArray), Map("recursiveFileLookup" -> "true"), resolvedSchema)
  }
  override def name(): String = parquet.name
  override def schema(): StructType = parquet.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    parquet.newScanBuilder(options)
}
