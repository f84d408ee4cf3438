package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.{CommitLog, Maintenance}

/** DataSource V2 connector for the snapshot-table commit log — the
  * engine's equivalent of Iceberg's `db.table.snapshots` metadata table
  * (`/root/reference/duckdb/init.sql:22-32` attaches the catalog whose
  * REST API serves this view; here the log itself is the source of truth):
  *
  * {{{
  *   spark.read.format("graft-commits").load(tableDir)
  * }}}
  *
  * yields one row per committed snapshot in LINEAGE ORDER (`seq_pos` — the
  * table's sequence number; snapshot ids are NOT wall-clock ordered across
  * ingest and maintenance), with the commit's kind, the batches it
  * replaced, its equality-delete key, the delete files it retired, and
  * whether its data is still visible in the current table state.
  *
  * The full connector surface is exercised deliberately: TableProvider +
  * DataSourceRegister (short-name lookup via META-INF/services),
  * SupportsRead with BATCH_READ, a ScanBuilder implementing
  * SupportsPushDownRequiredColumns (column pruning reaches the reader —
  * asserted in SourcesSpec), and a PartitionReaderFactory whose reader
  * parses the log ON THE EXECUTOR. One input partition: the log is
  * metadata-sized by construction (one line per commit), which is exactly
  * why a metadata table is safe to expose as a single-split source — the
  * DATA side of the table keeps its parquet splits. */
class CommitLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-commits"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CommitLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CommitLogTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object CommitLogSource {
  val schema: StructType = StructType(Seq(
    StructField("seq_pos", IntegerType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("compacts", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("delete_key", StringType, nullable = true),
    StructField("retires", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("is_visible", BooleanType, nullable = false)))
}

class CommitLogTable(path: String) extends Table with SupportsRead {
  require(path != null, "graft-commits: .load(<tableDir>) path is required")
  override def name(): String = s"graft-commits:$path"
  override def schema(): StructType = CommitLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CommitLogScanBuilder(path)
}

class CommitLogScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = CommitLogSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new CommitLogScan(path, required)
}

class CommitLogScan(path: String, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(CommitLogPartition(path, 0, -1))
  override def createReaderFactory(): PartitionReaderFactory =
    new CommitLogReaderFactory(required.fieldNames)
  // streaming half: the same table tailed as a COMMIT FEED — the offset
  // is the lineage position (one line per commit, append-only, so the
  // sequence number IS the exactly-once cursor); each trigger emits the
  // commits appended since the checkpointed position. This is the
  // table's CDC-of-metadata stream: downstream jobs react to
  // compactions/merges (cache invalidation, index append — E76's
  // trigger) without polling the data.
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CommitLogMicroBatchStream(path, required.fieldNames)
}

/** Half-open commit-line range [from, until); until = -1 means "to end". */
case class CommitLogPartition(path: String, from: Int, until: Int) extends InputPartition

case class CommitLogOffset(pos: Int) extends Offset {
  override def json(): String = pos.toString
}

class CommitLogMicroBatchStream(path: String, fields: Array[String])
    extends MicroBatchStream {
  override def latestOffset(): Offset =
    CommitLogOffset(CommitLog.commits(path).length)
  override def initialOffset(): Offset = CommitLogOffset(0)
  override def deserializeOffset(json: String): Offset =
    CommitLogOffset(json.trim.toInt)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[CommitLogOffset].pos,
      end.asInstanceOf[CommitLogOffset].pos)
    if (e <= s) Array.empty else Array(CommitLogPartition(path, s, e))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new CommitLogReaderFactory(fields)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class CommitLogReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CommitLogPartition]
    new CommitLogReader(p.path, p.from, p.until, fields)
  }
}

/** Parses the commit log and projects commits [from, until) onto the
  * pruned schema. Visibility is `CommitLog.visibleIn` over the log prefix
  * up to `hi` — the rule every table read applies; in the streaming form
  * this means each emitted commit carries visibility AS OF its
  * micro-batch, the semantics a metadata CDC consumer wants. The fold is
  * bounded at `hi` (the batch end offset), NOT the log length at read
  * time: a batch [s,e) replayed from a checkpoint after later commits
  * landed must emit the same rows as the original run (exactly-once replay
  * determinism). */
class CommitLogReader(path: String, from: Int, until: Int, fields: Array[String])
    extends PartitionReader[InternalRow] {
  private val commits = CommitLog.commits(path)
  private val hi = if (until < 0) commits.length else math.min(until, commits.length)
  private val visible: Set[Long] = CommitLog.visibleIn(commits.take(hi)).toSet
  private var i = from - 1

  override def next(): Boolean = { i += 1; i < hi }

  override def get(): InternalRow = {
    val c = commits(i)
    val kind =
      if (c.id < Maintenance.CompactionIdBase) "ingest"
      else if (c.deleteKey.isDefined) "merge"
      else "compaction"
    val values: Array[Any] = fields.map {
      case "seq_pos" => i
      case "snapshot_id" => c.id
      case "kind" => UTF8String.fromString(kind)
      case "compacts" => new GenericArrayData(c.compacts.toArray)
      case "delete_key" => c.deleteKey.map(UTF8String.fromString).orNull
      case "retires" => new GenericArrayData(c.retires.toArray)
      case "is_visible" => visible.contains(c.id)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    InternalRow.fromSeq(values.toSeq)
  }

  override def close(): Unit = ()
}
