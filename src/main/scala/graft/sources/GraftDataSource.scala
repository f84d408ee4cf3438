package graft.sources

import java.util
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.api.ReadSupport.ReadContext
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, ListLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the DATA side of the engine's tables — the
  * companion of [[CommitLogSource]] (which serves the metadata side):
  *
  * {{{
  *   spark.read.format("graft").load(path)
  * }}}
  *
  * `path` is either a plain parquet file/directory (the testdata layout,
  * `dir/name.parquet`) or an ingested snapshot table directory (the
  * `_snapshots.jsonl` + `data/batch=<id>/` mini-catalog layout,
  * `IngestJob.commitSnapshot`): for a snapshot table the connector resolves
  * CURRENTLY VISIBLE batches through the commit log — committed minus
  * compacted-away, `Maintenance.visibleBatches` — exactly like
  * `IngestJob.readTable`, so a reader through the connector sees the same
  * snapshot-isolated state the catalog helper serves. Tables with live
  * un-rewritten MOR equality-deletes refuse loudly (compact first): a data
  * scan cannot apply deletes without the join `Maintenance.applyDeletes`
  * plans, and silently returning undeleted rows would be wrong.
  *
  * The connector exercises the full pushdown surface:
  *  - `SupportsPushDownRequiredColumns` — the projection becomes the
  *    parquet requested schema, so unneeded columns are never decoded
  *    (and never read: parquet skips their column chunks entirely);
  *  - `SupportsPushDownFilters` — comparison/null/IN filters on primitive
  *    columns translate to parquet `FilterApi` predicates, applied at BOTH
  *    row-group level (min/max stats skip whole groups) and record level.
  *    Pushdown is ADVISORY: `pushFilters` returns every filter back to
  *    Spark for re-evaluation, so a translation subtlety can skip data
  *    work but never change results.
  *
  * Readers run ON THE EXECUTOR over the public parquet-hadoop API (one
  * input partition per file — the ingest flush threshold already sizes
  * files, A3/D2), materializing `InternalRow` directly: no intermediate
  * Group objects, one converter tree per file. Schema is the UNION of the
  * visible files' footers (latest wins per name — the mergeSchema
  * contract of `value_schema_latest` evolution); a file missing a
  * projected column yields nulls for it, so old batches read correctly
  * under an evolved schema. Timestamp columns normalize exactly like
  * `Tables.load`: NANOS truncate to micros (integer division), MICROS
  * pass through, and both surface as session-zone TIMESTAMP (the engine
  * pins UTC).
  *
  * Swap-in note (SCALING.md): this connector IS the seam where a real
  * Iceberg/REST catalog plugs in — `resolveFiles` becomes a manifest
  * read, everything from ScanBuilder down is unchanged.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "graft: .load(<path>) is required")
    GraftDataSource.unionSchema(GraftDataSource.resolveFiles(path))
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftDataTable(properties.get("path"), schema)
  override def supportsExternalMetadata(): Boolean = false
}

object GraftDataSource {
  /** The one Hadoop conf of the driver-side footer and stats reads. */
  private lazy val hadoopConf = new Configuration()

  /** Resolve `path` to concrete parquet files (see class doc). */
  def resolveFiles(path: String): Seq[String] = {
    val f = new java.io.File(path)
    require(f.exists, s"graft: $path does not exist")
    if (new java.io.File(f, "_snapshots.jsonl").exists) {
      val cms = graft.streaming.Maintenance.commits(path)
      val live = graft.streaming.Maintenance.liveDeletes(cms)
      require(live.isEmpty,
        s"graft: $path has live equality-delete files (snapshots " +
          s"${live.map(_._2).mkString(",")}); the data connector cannot apply " +
          "MOR deletes — run Maintenance.rewriteDeletes/compact first or read " +
          "via IngestJob.readTable")
      val visible = graft.streaming.Maintenance.visibleIn(cms).sorted
      graft.streaming.IngestJob.batchFiles(hadoopConf, path, visible)
        .flatMap(_._2.map(_.getPath.toString))
    } else listParquet(f)
  }

  private def listParquet(f: java.io.File): Seq[String] =
    if (f.isFile) Seq(f.getPath)
    else if (!f.isDirectory) Seq.empty
    else f.listFiles.sortBy(_.getPath).toSeq.flatMap { c =>
      if (c.isDirectory) listParquet(c)
      else if (c.getName.endsWith(".parquet") && !c.getName.startsWith(".")) Seq(c.getPath)
      else Seq.empty
    }

  private[sources] def footerSchema(file: String): MessageType = {
    val in = HadoopInputFile.fromPath(new HPath(file), hadoopConf)
    val r = ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  /** Union of the files' footer schemas, first-seen field order, latest
    * file wins on a name collision (schema evolution: the newest committed
    * schema is the serving one). */
  def unionSchema(files: Seq[String]): StructType = {
    require(files.nonEmpty, "graft: no parquet files resolved")
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    files.foreach { f =>
      toStruct(footerSchema(f)).fields.foreach(sf => fields.put(sf.name, sf))
    }
    StructType(fields.values.toSeq)
  }

  /** Parquet MessageType → Spark StructType for the engine's type surface:
    * primitives, strings, timestamps (NANOS/MICROS/MILLIS), dates, and
    * one-level LISTs of primitives. Anything else fails loudly. */
  private[sources] def toStruct(m: MessageType): StructType =
    StructType(m.getFields.asScala.toSeq.map { t =>
      StructField(t.getName, toSpark(t), nullable = true)
    })

  /** Exposed for per-file type-agreement checks (InternalRowReadSupport). */
  private[sources] def sparkTypeOf(t: Type): DataType = toSpark(t)

  // (bytes, rows) per file, cached: footers are immutable once written
  // (the commit protocol never rewrites a data file in place), so the
  // cache never goes stale; keyed by path — compaction writes NEW files.
  private val fileStats = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]
  /** Total (bytes, rows) of `files` from file lengths + footer row counts. */
  private[sources] def statsOf(files: Seq[String]): (Long, Long) =
    files.foldLeft((0L, 0L)) { case ((b, r), f) =>
      val (fb, fr) = fileStats.computeIfAbsent(f, { path =>
        val in = HadoopInputFile.fromPath(new HPath(path), hadoopConf)
        val rd = ParquetFileReader.open(in)
        // length from the SAME Hadoop layer that reads the footer:
        // java.io.File.length returns 0 for any non-local filesystem,
        // which would report sizeInBytes=0 and mis-mark huge tables as
        // broadcast-able (driver OOM at scale)
        try (in.getLength, rd.getRecordCount) finally rd.close()
      })
      (b + fb, r + fr)
    }

  private def toSpark(t: Type): DataType =
    if (t.isPrimitive) primToSpark(t)
    else t.getLogicalTypeAnnotation match {
      case _: ListLogicalTypeAnnotation =>
        ArrayType(primToSpark(listElement(t.asGroupType())), containsNull = true)
      case other => throw new IllegalArgumentException(
        s"graft: unsupported group type ${t.getName}: $other")
    }

  /** The element type of a standard 3-level LIST group. */
  private[sources] def listElement(g: GroupType): Type = {
    val repeated = g.getFields.get(0).asGroupType() // "list"
    repeated.getFields.get(0) // "element"
  }

  private def primToSpark(t: Type): DataType = {
    val p = t.asPrimitiveType()
    (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation) => TimestampType
      // DECIMAL-annotated ints carry an implicit scale: mapping them to
      // Long/Int would surface UNSCALED integers (12345 for 123.45) —
      // silent wrong data. Fail loudly like the BINARY/FIXED decimals do;
      // the engine's tables are written decimal-free by design.
      case (PrimitiveTypeName.INT64, dec: DecimalLogicalTypeAnnotation) =>
        throw new IllegalArgumentException(
          s"graft: unsupported parquet type ${t.getName}: INT64/$dec (decimal)")
      case (PrimitiveTypeName.INT64, _) => LongType
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) => DateType
      case (PrimitiveTypeName.INT32, dec: DecimalLogicalTypeAnnotation) =>
        throw new IllegalArgumentException(
          s"graft: unsupported parquet type ${t.getName}: INT32/$dec (decimal)")
      case (PrimitiveTypeName.INT32, _) => IntegerType
      case (PrimitiveTypeName.DOUBLE, _) => DoubleType
      case (PrimitiveTypeName.FLOAT, _) => FloatType
      case (PrimitiveTypeName.BOOLEAN, _) => BooleanType
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) => StringType
      case (PrimitiveTypeName.BINARY, null) => BinaryType
      case (PrimitiveTypeName.INT96, _) => TimestampType // legacy Spark writer default
      case (tn, ann) => throw new IllegalArgumentException(
        s"graft: unsupported parquet type ${t.getName}: $tn/$ann")
    }
  }

  /** Spark source filter → parquet FilterApi predicate, where the column
    * is a pushable primitive. Timestamp/date/array columns are skipped
    * (Spark re-applies everything — advisory pushdown). */
  private[sources] def translate(f: sources.Filter, schema: StructType): Option[FilterPredicate] = {
    def typ(a: String): Option[DataType] =
      schema.fields.find(_.name == a).map(_.dataType)
    def lift[T](a: String, v: Any)(mk: (String, Any) => T): Option[T] =
      typ(a).collect {
        case LongType if v == null || v.isInstanceOf[Long] => mk(a, v)
        case IntegerType if v == null || v.isInstanceOf[Int] => mk(a, v)
        case DoubleType if v == null || v.isInstanceOf[Double] => mk(a, v)
        case FloatType if v == null || v.isInstanceOf[Float] => mk(a, v)
        case StringType if v == null || v.isInstanceOf[String] => mk(a, v)
        case BooleanType if v == null || v.isInstanceOf[Boolean] => mk(a, v)
      }
    def eqP(a: String, v: Any): FilterPredicate = typ(a).get match {
      case LongType => FilterApi.eq(FilterApi.longColumn(a),
        if (v == null) null else java.lang.Long.valueOf(v.asInstanceOf[Long]))
      case IntegerType => FilterApi.eq(FilterApi.intColumn(a),
        if (v == null) null else java.lang.Integer.valueOf(v.asInstanceOf[Int]))
      case DoubleType => FilterApi.eq(FilterApi.doubleColumn(a),
        if (v == null) null else java.lang.Double.valueOf(v.asInstanceOf[Double]))
      case FloatType => FilterApi.eq(FilterApi.floatColumn(a),
        if (v == null) null else java.lang.Float.valueOf(v.asInstanceOf[Float]))
      case StringType => FilterApi.eq(FilterApi.binaryColumn(a),
        if (v == null) null else Binary.fromString(v.asInstanceOf[String]))
      case BooleanType => FilterApi.eq(FilterApi.booleanColumn(a),
        if (v == null) null else java.lang.Boolean.valueOf(v.asInstanceOf[Boolean]))
      case other => throw new IllegalStateException(other.toString)
    }
    def cmpP(a: String, v: Any, op: String): FilterPredicate = typ(a).get match {
      case LongType =>
        val c = FilterApi.longColumn(a); val b = java.lang.Long.valueOf(v.asInstanceOf[Long])
        op match { case "gt" => FilterApi.gt(c, b); case "gtEq" => FilterApi.gtEq(c, b)
          case "lt" => FilterApi.lt(c, b); case _ => FilterApi.ltEq(c, b) }
      case IntegerType =>
        val c = FilterApi.intColumn(a); val b = java.lang.Integer.valueOf(v.asInstanceOf[Int])
        op match { case "gt" => FilterApi.gt(c, b); case "gtEq" => FilterApi.gtEq(c, b)
          case "lt" => FilterApi.lt(c, b); case _ => FilterApi.ltEq(c, b) }
      case DoubleType =>
        val c = FilterApi.doubleColumn(a); val b = java.lang.Double.valueOf(v.asInstanceOf[Double])
        op match { case "gt" => FilterApi.gt(c, b); case "gtEq" => FilterApi.gtEq(c, b)
          case "lt" => FilterApi.lt(c, b); case _ => FilterApi.ltEq(c, b) }
      case FloatType =>
        val c = FilterApi.floatColumn(a); val b = java.lang.Float.valueOf(v.asInstanceOf[Float])
        op match { case "gt" => FilterApi.gt(c, b); case "gtEq" => FilterApi.gtEq(c, b)
          case "lt" => FilterApi.lt(c, b); case _ => FilterApi.ltEq(c, b) }
      case StringType =>
        val c = FilterApi.binaryColumn(a); val b = Binary.fromString(v.asInstanceOf[String])
        op match { case "gt" => FilterApi.gt(c, b); case "gtEq" => FilterApi.gtEq(c, b)
          case "lt" => FilterApi.lt(c, b); case _ => FilterApi.ltEq(c, b) }
      case other => throw new IllegalStateException(other.toString)
    }
    f match {
      case sources.EqualTo(a, v) => lift(a, v)(eqP)
      case sources.GreaterThan(a, v) if v != null => lift(a, v)((x, y) => cmpP(x, y, "gt"))
      case sources.GreaterThanOrEqual(a, v) if v != null => lift(a, v)((x, y) => cmpP(x, y, "gtEq"))
      case sources.LessThan(a, v) if v != null => lift(a, v)((x, y) => cmpP(x, y, "lt"))
      case sources.LessThanOrEqual(a, v) if v != null => lift(a, v)((x, y) => cmpP(x, y, "ltEq"))
      case sources.IsNull(a) => lift(a, null)(eqP)
      case sources.IsNotNull(a) => lift(a, null)(eqP).map(FilterApi.not)
      case sources.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        val ps = vs.toSeq.map(v => lift(a, v)(eqP))
        if (ps.forall(_.isDefined)) Some(ps.flatten.reduce(FilterApi.or)) else None
      case sources.And(l, r) =>
        for (lp <- translate(l, schema); rp <- translate(r, schema))
          yield FilterApi.and(lp, rp)
      case sources.Or(l, r) =>
        for (lp <- translate(l, schema); rp <- translate(r, schema))
          yield FilterApi.or(lp, rp)
      case _ => None
    }
  }
}

class GraftDataTable(path: String, tableSchema: StructType,
    resolvedFiles: Option[Seq[String]] = None) extends Table with SupportsRead {
  require(path != null, "graft: .load(<path>) path is required")
  // Snapshot isolation: the visible file list is resolved ONCE, when the
  // relation is created, and threaded immutably to every scan. A
  // commit/compaction landing between two actions on the same DataFrame
  // must not change what that DataFrame reads (or desync the files from
  // the already-resolved schema) — re-resolving per planInputPartitions
  // did exactly that. A NEW spark.read...load() picks up new snapshots.
  // Callers that derived `tableSchema` from a file list they already
  // resolved MUST pass that list (GraftCatalog.loadTable does) — a second
  // resolve here could see a commit that landed in between and desync the
  // pinned files from the schema.
  private val files: Seq[String] =
    resolvedFiles.getOrElse(GraftDataSource.resolveFiles(path))
  override def name(): String = s"graft:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, files, tableSchema)
}

class GraftScanBuilder(path: String, files: Seq[String], tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(f => GraftDataSource.translate(f, tableSchema).isDefined)
    filters // advisory: Spark re-evaluates everything above the scan
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan =
    new GraftScan(path, files, tableSchema, required, pushed)
}

class GraftScan(path: String, files: Seq[String], tableSchema: StructType,
    required: StructType, pushed: Array[sources.Filter])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScan path=$path, ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => GraftFilePartition(f): InputPartition).toArray
  /** Bytes + row counts from the file footers, so join planning sees
    * dimension tables as broadcast-able through the connector/catalog
    * path exactly like through the built-in parquet source. */
  override def estimateStatistics(): Statistics = {
    val (bytes, rows) = GraftDataSource.statsOf(files)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(tableSchema.json, required.json,
      pushed.map(SerializedFilter.pack))
}

case class GraftFilePartition(file: String) extends InputPartition

/** sources.Filter is not Serializable across all shapes; pack the small
  * supported subset explicitly. */
case class SerializedFilter(kind: String, attr: String, value: Any,
    values: Seq[Any], children: Seq[SerializedFilter]) extends Serializable
object SerializedFilter {
  def pack(f: sources.Filter): SerializedFilter = f match {
    case sources.EqualTo(a, v) => SerializedFilter("eq", a, v, Nil, Nil)
    case sources.GreaterThan(a, v) => SerializedFilter("gt", a, v, Nil, Nil)
    case sources.GreaterThanOrEqual(a, v) => SerializedFilter("gtEq", a, v, Nil, Nil)
    case sources.LessThan(a, v) => SerializedFilter("lt", a, v, Nil, Nil)
    case sources.LessThanOrEqual(a, v) => SerializedFilter("ltEq", a, v, Nil, Nil)
    case sources.IsNull(a) => SerializedFilter("isNull", a, null, Nil, Nil)
    case sources.IsNotNull(a) => SerializedFilter("isNotNull", a, null, Nil, Nil)
    case sources.In(a, vs) => SerializedFilter("in", a, null, vs.toSeq, Nil)
    case sources.And(l, r) => SerializedFilter("and", null, null, Nil, Seq(pack(l), pack(r)))
    case sources.Or(l, r) => SerializedFilter("or", null, null, Nil, Seq(pack(l), pack(r)))
    case other => throw new IllegalArgumentException(s"unpackable filter $other")
  }
  def unpack(s: SerializedFilter): sources.Filter = s.kind match {
    case "eq" => sources.EqualTo(s.attr, s.value)
    case "gt" => sources.GreaterThan(s.attr, s.value)
    case "gtEq" => sources.GreaterThanOrEqual(s.attr, s.value)
    case "lt" => sources.LessThan(s.attr, s.value)
    case "ltEq" => sources.LessThanOrEqual(s.attr, s.value)
    case "isNull" => sources.IsNull(s.attr)
    case "isNotNull" => sources.IsNotNull(s.attr)
    case "in" => sources.In(s.attr, s.values.toArray)
    case "and" => sources.And(unpack(s.children(0)), unpack(s.children(1)))
    case "or" => sources.Or(unpack(s.children(0)), unpack(s.children(1)))
  }
}

class GraftReaderFactory(tableSchemaJson: String, requiredJson: String,
    filters: Array[SerializedFilter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    val tableSchema = DataType.fromJson(tableSchemaJson).asInstanceOf[StructType]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    new GraftFileReader(p.file, tableSchema, required,
      filters.map(SerializedFilter.unpack))
  }
}

/** Executor-side parquet reader: projection → parquet requested schema,
  * filters → FilterApi predicate (row-group + record level), rows
  * materialized straight to InternalRow. */
class GraftFileReader(file: String, tableSchema: StructType, required: StructType,
    filters: Seq[sources.Filter]) extends PartitionReader[InternalRow] {

  private val reader: ParquetReader[InternalRow] = {
    val support = new InternalRowReadSupport(required)
    val b = ParquetReader.builder(support, new HPath(file))
      .withConf(new Configuration())
    val pred = filters.flatMap(GraftDataSource.translate(_, tableSchema))
      .reduceOption(FilterApi.and)
    pred.fold(b)(p => b.withFilter(FilterCompat.get(p))).build()
  }

  private var current: InternalRow = _
  override def next(): Boolean = { current = reader.read(); current != null }
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** ReadSupport: request the projected subset of THIS file's schema (a file
  * from an older snapshot may lack evolved columns — they stay null).
  * A file column whose parquet type DISAGREES with the union ("latest
  * wins") schema is rejected loudly: the converter slots are typed by the
  * union schema, so e.g. an old INT32 file under an evolved INT64 column
  * would silently put Int values into a Long slot (and a pushed filter
  * built from the union type would trip parquet's
  * SchemaCompatibilityValidator) — type-changing evolution is not a
  * supported read, per the class contract of failing loudly. */
class InternalRowReadSupport(required: StructType) extends ReadSupport[InternalRow] {
  override def init(context: InitContext): ReadContext = {
    val fileSchema = context.getFileSchema
    val kept: Seq[Type] = required.fieldNames.toSeq
      .filter(fileSchema.containsField)
      .map(n => fileSchema.getType(fileSchema.getFieldIndex(n)))
    kept.foreach { t =>
      val unionDt = required(t.getName).dataType
      val fileDt = GraftDataSource.sparkTypeOf(t)
      require(fileDt == unionDt,
        s"graft: column ${t.getName} is $fileDt in file but $unionDt in the " +
          "table schema — type-changing schema evolution is unsupported")
    }
    new ReadContext(new MessageType(fileSchema.getName, kept: _*))
  }
  override def prepareForRead(conf: Configuration,
      meta: java.util.Map[String, String], fileSchema: MessageType,
      readContext: ReadContext): RecordMaterializer[InternalRow] =
    new InternalRowMaterializer(readContext.getRequestedSchema, required)
}

class InternalRowMaterializer(projected: MessageType, required: StructType)
    extends RecordMaterializer[InternalRow] {
  private val root = new RowConverter(projected, required)
  override def getCurrentRecord: InternalRow = root.row
  override def getRootConverter: GroupConverter = root
}

/** Assembles one InternalRow per record; slots align with `required`
  * (projected-away / file-missing columns stay null). */
class RowConverter(projected: MessageType, required: StructType) extends GroupConverter {
  private val slots = new Array[Any](required.length)
  private val slotOf: Map[String, Int] =
    required.fieldNames.zipWithIndex.toMap
  var row: InternalRow = _

  private val converters: Array[Converter] =
    projected.getFields.asScala.toArray.map { t =>
      val slot = slotOf(t.getName)
      if (t.isPrimitive) primConverter(t, v => slots(slot) = v)
      else new ListConverter(t.asGroupType(), v => slots(slot) = v)
    }

  private def primConverter(t: Type, set: Any => Unit): PrimitiveConverter = {
    val p = t.asPrimitiveType()
    (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation) =>
        val div = ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.NANOS => 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
          case LogicalTypeAnnotation.TimeUnit.MILLIS => -1L // multiply
        }
        new PrimitiveConverter {
          override def addLong(v: Long): Unit =
            set(if (div < 0) v * 1000L else v / div)
        }
      case (PrimitiveTypeName.INT64, _) =>
        new PrimitiveConverter { override def addLong(v: Long): Unit = set(v) }
      case (PrimitiveTypeName.INT32, _) =>
        new PrimitiveConverter { override def addInt(v: Int): Unit = set(v) }
      case (PrimitiveTypeName.DOUBLE, _) =>
        new PrimitiveConverter { override def addDouble(v: Double): Unit = set(v) }
      case (PrimitiveTypeName.FLOAT, _) =>
        new PrimitiveConverter { override def addFloat(v: Float): Unit = set(v) }
      case (PrimitiveTypeName.BOOLEAN, _) =>
        new PrimitiveConverter { override def addBoolean(v: Boolean): Unit = set(v) }
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) =>
        new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = set(UTF8String.fromBytes(v.getBytes))
        }
      case (PrimitiveTypeName.BINARY, null) =>
        new PrimitiveConverter { override def addBinary(v: Binary): Unit = set(v.getBytes) }
      case (PrimitiveTypeName.INT96, _) =>
        // legacy 12-byte timestamp: little-endian nanos-of-day (8) +
        // little-endian Julian day (4); 2440588 = Unix epoch Julian day
        new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = {
            val bb = v.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = bb.getLong
            val julianDay = bb.getInt
            set((julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L)
          }
        }
      case (tn, ann) => throw new IllegalArgumentException(
        s"graft reader: unsupported ${t.getName}: $tn/$ann")
    }
  }

  override def getConverter(i: Int): Converter = converters(i)
  override def start(): Unit = java.util.Arrays.fill(slots.asInstanceOf[Array[AnyRef]], null)
  override def end(): Unit = row = new GenericInternalRow(slots.clone())
}

/** Standard 3-level LIST group (list → element). */
class ListConverter(g: GroupType, set: Any => Unit) extends GroupConverter {
  private val buf = ArrayBuffer.empty[Any]
  private val elemType = GraftDataSource.listElement(g)
  private val repeated: GroupConverter = new GroupConverter {
    private val elem: PrimitiveConverter = {
      val p = elemType.asPrimitiveType()
      (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
        case (PrimitiveTypeName.FLOAT, _) =>
          new PrimitiveConverter { override def addFloat(v: Float): Unit = buf += v }
        case (PrimitiveTypeName.DOUBLE, _) =>
          new PrimitiveConverter { override def addDouble(v: Double): Unit = buf += v }
        case (PrimitiveTypeName.INT64, _) =>
          new PrimitiveConverter { override def addLong(v: Long): Unit = buf += v }
        case (PrimitiveTypeName.INT32, _) =>
          new PrimitiveConverter { override def addInt(v: Int): Unit = buf += v }
        case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) =>
          new PrimitiveConverter {
            override def addBinary(v: Binary): Unit = buf += UTF8String.fromBytes(v.getBytes)
          }
        case (tn, ann) => throw new IllegalArgumentException(
          s"graft reader: unsupported list element $tn/$ann")
      }
    }
    override def getConverter(i: Int): Converter = elem
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
  override def getConverter(i: Int): Converter = repeated
  override def start(): Unit = buf.clear()
  override def end(): Unit = set(new GenericArrayData(buf.toArray))
}
