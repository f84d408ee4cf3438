package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A7 — schema registry emulation (the reference's Redpanda Schema Registry
  * role: `validation/e2e.sh:67-105` registers a JSON Schema per topic subject
  * before producing; `CLAUDE.md:165-171` documents `value_schema_latest` —
  * ingest always decodes with the latest registered version).
  *
  * Semantics reproduced:
  *  - register-before-data: [[IngestJob.startWithRegistry]] refuses to start
  *    a stream for a subject with no registered schema ("schema must exist
  *    before data").
  *  - versioning: registering a schema identical to the latest is idempotent
  *    (returns the existing version, as Confluent-compatible registries do);
  *    otherwise versions increment from 1.
  *  - BACKWARD compatibility (the registry default the e2e relies on): a new
  *    version may add nullable fields and may widen nothing — an existing
  *    field must keep its exact type, and removing a field that ingest
  *    requires would break replay, so removals are rejected too. Data
  *    written under v1 read under v2 yields null for v2-only columns
  *    (the per-batch footer union in [[IngestJob.readBatches]]).
  *
  * Storage is one JSON file per version under `dir/<subject>/v<n>.json`
  * (Spark's own StructType JSON serialization), so the registry state is
  * inspectable and survives restarts. At 100 TB scale this is a metadata
  * store measured in kilobytes — a real REST registry swaps in behind the
  * same three methods.
  */
final case class SchemaRegistry(dir: String) {
  private def subjectDir(subject: String): Path = Paths.get(dir, subject)

  private def versionFiles(subject: String): Seq[(Int, Path)] = {
    val d = subjectDir(subject)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.list(d).iterator().asScala
      .flatMap { p =>
        "^v(\\d+)\\.json$".r.findFirstMatchIn(p.getFileName.toString)
          .map(m => (m.group(1).toInt, p))
      }.toSeq.sortBy(_._1)
  }

  /** All registered versions of a subject, ascending. */
  def versions(subject: String): Seq[Int] = versionFiles(subject).map(_._1)

  def get(subject: String, version: Int): Option[StructType] =
    versionFiles(subject).collectFirst { case (v, p) if v == version =>
      DataType.fromJson(Files.readString(p)).asInstanceOf[StructType]
    }

  /** Latest registered (version, schema) for the subject, if any. */
  def latest(subject: String): Option[(Int, StructType)] =
    versionFiles(subject).lastOption.map { case (v, p) =>
      (v, DataType.fromJson(Files.readString(p)).asInstanceOf[StructType])
    }

  def latestOrThrow(subject: String): (Int, StructType) =
    latest(subject).getOrElse(throw new IllegalStateException(
      s"no schema registered for subject '$subject' — the registry contract " +
        "requires a schema before data (validation/e2e.sh:67-105)"))

  /** Register a schema version; returns the assigned version number.
    * Idempotent on the latest version; enforces BACKWARD compatibility
    * against it otherwise. */
  def register(subject: String, schema: StructType): Int = synchronized {
    latest(subject) match {
      case Some((v, cur)) if cur == schema => v // idempotent re-register
      case Some((v, cur)) =>
        checkBackward(subject, cur, schema)
        write(subject, v + 1, schema)
      case None =>
        write(subject, 1, schema)
    }
  }

  private def write(subject: String, version: Int, schema: StructType): Int = {
    val d = subjectDir(subject)
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"v$version.json"), schema.prettyJson)
    version
  }

  /** BACKWARD: every existing field keeps its exact type; new fields must be
    * nullable (an old row cannot supply a value for them). */
  private def checkBackward(subject: String, cur: StructType, next: StructType): Unit = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    cur.fields.foreach { f =>
      nextByName.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"incompatible schema for '$subject': field '${f.name}' removed " +
            "(BACKWARD compatibility forbids removals)")
        case Some(g) if g.dataType != f.dataType => throw new IllegalArgumentException(
          s"incompatible schema for '$subject': field '${f.name}' changed type " +
            s"${f.dataType.simpleString} -> ${g.dataType.simpleString}")
        case _ => ()
      }
    }
    next.fields.filterNot(f => cur.fieldNames.contains(f.name)).foreach { f: StructField =>
      if (!f.nullable) throw new IllegalArgumentException(
        s"incompatible schema for '$subject': new field '${f.name}' must be " +
          "nullable (rows ingested under earlier versions have no value for it)")
    }
  }
}
