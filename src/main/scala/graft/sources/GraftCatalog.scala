package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.CommitLog

/** Session-level named catalog over the engine's DSv2 data connector —
  * the three-part-name SQL surface (`SELECT … FROM graft.sf01.lineitem`)
  * and the connector ([[GraftDataSource]]) as ONE path:
  *
  * {{{
  *   spark.sql.catalog.graft       = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root  = /root/testdata
  *   spark.sql.catalog.graft.ns.sf01 = sf0.01          // optional alias
  *   spark.sql("SELECT count(*) FROM graft.sf01.lineitem")
  * }}}
  *
  * Layout contract: a NAMESPACE is a directory under `root`; a TABLE is
  * either `<ns>/<name>.parquet` (file or directory — the testdata layout)
  * or `<ns>/<name>/` holding a commit log (an ingested snapshot table,
  * `graft.streaming.CommitLog.isTable` — resolved through its visible
  * batches, MOR refusal included, exactly like `spark.read.format("graft")`).
  * Because directory names may contain dots (`sf0.01`) — which SQL
  * identifiers can't carry unquoted — `ns.<alias>=<dir>` options register
  * namespace aliases; the literal (backquoted) directory name always works
  * too.
  *
  * The catalog is READ-ONLY by design (the write path is the streaming
  * ingest + snapshot commit protocol, IngestJob — not SQL DDL): every
  * mutating operation throws. Each `loadTable` resolves the CURRENT
  * snapshot once, files and schema together; the resulting relation is
  * snapshot-isolated for its lifetime (its file index serves exactly the
  * resolved files), and a re-query picks up new commits — standard
  * catalog freshness semantics.
  *
  * Scale note: the relation's scan is Spark's own parquet scan, so it
  * reports size statistics from the resolved files' lengths and Spark's
  * join planning sees dimension tables as broadcast-able through the
  * catalog path just like through the built-in parquet source.
  *
  * Reference seam (SURVEY §1): this is the stand-in for the reference's
  * Iceberg REST catalog (`resources/setup_polaris_catalog.sh:20-150`) —
  * `initialize` would exchange OAuth2 credentials and `loadTable` a REST
  * manifest fetch; the Spark side (identifiers, relations, pushdown,
  * statistics) is already exactly this. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {
  private var catName: String = _
  private var root: java.io.File = _
  private var aliases: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val r = options.get("root")
    require(r != null,
      s"graft catalog '$name': set spark.sql.catalog.$name.root=<data dir>")
    root = new java.io.File(r)
    require(root.isDirectory, s"graft catalog '$name': root $r is not a directory")
    aliases = options.asScala.collect {
      case (k, v) if k.startsWith("ns.") => k.stripPrefix("ns.") -> v
    }.toMap
  }
  override def name(): String = catName

  private def dirOf(ns: Array[String]): java.io.File =
    ns.foldLeft(root)((f, p) =>
      new java.io.File(f, aliases.getOrElse(p.toLowerCase(java.util.Locale.ROOT), p)))

  private def tablePath(ident: Identifier): Option[String] = {
    val d = dirOf(ident.namespace())
    val plain = new java.io.File(d, ident.name() + ".parquet")
    val snap = new java.io.File(d, ident.name()).getPath
    if (plain.exists) Some(plain.getPath)
    else if (CommitLog.isTable(snap)) Some(snap)
    else None
  }

  override def loadTable(ident: Identifier): Table = tablePath(ident) match {
    case Some(path) => GraftDataSource.table(SparkSession.active, path)
    case None => throw new NoSuchTableException(ident)
  }

  override def tableExists(ident: Identifier): Boolean = tablePath(ident).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = dirOf(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(catName +: namespace)
    d.listFiles.toSeq.sortBy(_.getName).flatMap { f =>
      if (f.getName.endsWith(".parquet"))
        Some(Identifier.of(namespace, f.getName.stripSuffix(".parquet")))
      else if (CommitLog.isTable(f.getPath))
        Some(Identifier.of(namespace, f.getName))
      else None
    }.toArray
  }

  // ---- namespaces: directories under root ----
  private def subdirs(d: java.io.File): Array[Array[String]] =
    if (!d.isDirectory) Array.empty
    else d.listFiles.filter(f => f.isDirectory &&
        !CommitLog.isTable(f.getPath) && !f.getName.endsWith(".parquet"))
      .map(_.getName).sorted.map(Array(_))

  override def listNamespaces(): Array[Array[String]] = subdirs(root)
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val d = dirOf(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(catName +: namespace)
    subdirs(d).map(namespace ++ _)
  }
  override def namespaceExists(namespace: Array[String]): Boolean =
    dirOf(namespace).isDirectory
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val d = dirOf(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(catName +: namespace)
    Map("location" -> d.getPath).asJava
  }

  // ---- read-only: the write path is the ingest/commit protocol ----
  private def readOnly(op: String): Nothing = throw new UnsupportedOperationException(
    s"graft catalog '$catName' is read-only ($op): tables are written by the " +
      "ingest + snapshot-commit protocol (graft.streaming.IngestJob), not SQL DDL")
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    readOnly(s"CREATE TABLE $ident")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly(s"ALTER TABLE $ident")
  override def dropTable(ident: Identifier): Boolean = readOnly(s"DROP TABLE $ident")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly(s"RENAME TABLE $oldIdent")
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    readOnly(s"CREATE NAMESPACE ${namespace.mkString(".")}")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    readOnly(s"ALTER NAMESPACE ${namespace.mkString(".")}")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly(s"DROP NAMESPACE ${namespace.mkString(".")}")
}
