package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** The snapshot table's on-disk format — the mini-Iceberg catalog every
  * ingest, maintenance and read path goes through, and the only code that
  * knows it:
  *
  * {{{
  *   <table>/_snapshots.jsonl      the commit log: one JSON line per commit
  *   <table>/_snapshots.lock       the writers' lock
  *   <table>/data/batch=<id>/      a commit's data files (p_date=… below)
  *   <table>/_deletes/<id>/        a MOR commit's equality-delete keys
  *   <table>/_staging/<what>=<id>-<nonce>/   a maintenance write in flight
  * }}}
  *
  * A commit line is `{"batch":B,"rows":R,"rejects":J,"committed":true}`,
  * followed by `"compacts":[…]` (the ids whose data a maintenance commit
  * replaces), `"deleteKey":"k"` (a MOR commit's delete-file key) or
  * `"retiresDeletes":[…]` (the delete files a rewrite folds in), and
  * `"rowPreserving":true` on a compaction, whose replacement holds exactly
  * the visible rows of the batches it replaces. The log is append-only;
  * position in it is the table's sequence number, so every fold here takes
  * a lineage prefix, never an id range.
  *
  * Writers append under [[withLock]]: ingest's commit ([[append]]) and
  * maintenance's compare-move-append ([[commitStaged]]) share it, so the
  * optimistic-concurrency check is atomic on a single filesystem — the
  * stand-in for Iceberg's compare-and-swap on the catalog's metadata
  * pointer. Readers stay lock-free (a torn read sees a prefix).
  */
object CommitLog {
  private val LogFile = "_snapshots.jsonl"
  private val LockFile = "_snapshots.lock"

  /** One commit line. `replaces` is the `compacts` field (None: the line has
    * none — an ingest or MOR commit); `deleteKey` names the key column of
    * this commit's equality-delete file; `retires` lists the delete-file ids
    * this commit folds in (they stop applying from here on); `rowPreserving`
    * marks a replacement whose rows are exactly the visible rows of what it
    * replaces (a compaction; false on lines written before the field). */
  case class Commit(id: Long, rows: Long = 0L, rejects: Long = 0L,
      replaces: Option[Seq[Long]] = None, deleteKey: Option[String] = None,
      retires: Seq[Long] = Nil, rowPreserving: Boolean = false) {
    /** The ids whose data this commit replaces. */
    def compacts: Seq[Long] = replaces.getOrElse(Nil)
  }

  // ---- layout ----
  def isTable(dir: String): Boolean = Files.isRegularFile(Paths.get(dir, LogFile))

  /** What tells this table's log from one re-created at the same path: the
    * log file's key (its inode) and the lock file's modification time,
    * fixed when the first commit created it (the lock is never written).
    * None before the first commit. */
  def identity(tableDir: String): Option[String] = {
    def attrs(name: String) = scala.util.Try(Files.readAttributes(Paths.get(tableDir, name),
      classOf[java.nio.file.attribute.BasicFileAttributes])).toOption
    for (log <- attrs(LogFile); lock <- attrs(LockFile))
      yield s"${log.fileKey}@${lock.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)}"
  }

  def dataDir(tableDir: String): String = s"$tableDir/data"
  def batchDir(tableDir: String, id: Long): String = s"$tableDir/data/batch=$id"
  def deletesDir(tableDir: String, id: Long): String = s"$tableDir/_deletes/$id"

  /** A unique staging dir for a maintenance write of commit `id`: outside
    * `data/` (readers never see it) and nonce'd, so two writers that picked
    * the same next id from the same log base never clobber each other's
    * files — only the log append decides who wins. */
  def stageData(tableDir: String, id: Long): Path = stage(tableDir, "batch", id)
  def stageDeletes(tableDir: String, id: Long): Path = stage(tableDir, "deletes", id)
  private def stage(tableDir: String, what: String, id: Long): Path =
    Paths.get(tableDir, "_staging", s"$what=$id-${java.util.UUID.randomUUID().toString.take(8)}")

  // ---- codec ----
  def render(c: Commit): String =
    s"""{"batch":${c.id},"rows":${c.rows},"rejects":${c.rejects},"committed":true""" +
      c.replaces.fold("")(ids => s""","compacts":[${ids.mkString(",")}]""") +
      c.deleteKey.fold("")(k => s""","deleteKey":"$k"""") +
      (if (c.retires.isEmpty) "" else s""","retiresDeletes":[${c.retires.mkString(",")}]""") +
      (if (c.rowPreserving) ""","rowPreserving":true""" else "") +
      "}"

  private val idRe = "\"batch\":(\\d+)".r
  private val rowsRe = "\"rows\":(\\d+)".r
  private val rejectsRe = "\"rejects\":(\\d+)".r
  private val compRe = "\"compacts\":\\[([0-9, ]*)\\]".r
  private val delKeyRe = "\"deleteKey\":\"([^\"]+)\"".r
  private val retireRe = "\"retiresDeletes\":\\[([0-9, ]*)\\]".r
  private val preservingRe = "\"rowPreserving\":true".r
  private def idList(s: String): Seq[Long] =
    s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq

  /** A log line as a commit; None for a line without a batch id. Fields a
    * line lacks take their defaults, so older, shorter lines still parse. */
  def parse(line: String): Option[Commit] = idRe.findFirstMatchIn(line).map { m =>
    def count(re: scala.util.matching.Regex) =
      re.findFirstMatchIn(line).fold(0L)(_.group(1).toLong)
    Commit(m.group(1).toLong, count(rowsRe), count(rejectsRe),
      compRe.findFirstMatchIn(line).map(c => idList(c.group(1))),
      delKeyRe.findFirstMatchIn(line).map(_.group(1)),
      retireRe.findFirstMatchIn(line).toSeq.flatMap(r => idList(r.group(1))),
      preservingRe.findFirstIn(line).isDefined)
  }

  /** The commit log in APPEND ORDER (the table's lineage). */
  def commits(tableDir: String): Seq[Commit] = {
    val log = Paths.get(tableDir, LogFile)
    if (!Files.exists(log)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(log).asScala.toSeq.flatMap(parse)
    }
  }

  // ---- lineage folds ----
  /** The batches visible after a lineage prefix, in lineage order: every
    * committed id that no commit of the prefix replaced. */
  def visibleIn(prefix: Seq[Commit]): Seq[Long] = {
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

  /** The batches a fold over lineage prefix `base` lacks to cover the
    * longer prefix `prefix`, in lineage order: each commit after `base`
    * either adds its batch, or is a row-preserving compaction of batches the
    * fold already holds, which only renames them. None when a fold over
    * `base` cannot be extended to `prefix`:
    *  - `prefix` does not start with `base` (an older read, or a rewritten log);
    *  - a later commit carries a MOR delete or retires delete files;
    *  - a later commit replaces batches and is not a row-preserving
    *    compaction (a COW merge, or a line written before the field);
    *  - a row-preserving compaction took in a batch the fold does not hold;
    *  - a batch the fold holds is no longer visible in `prefix`. */
  def appendedSince(base: Seq[Commit], prefix: Seq[Commit]): Option[Seq[Long]] =
    if (!prefix.startsWith(base)) None
    else {
      val start: Option[(Set[Long], Vector[Long])] = Some((visibleIn(base).toSet, Vector.empty))
      prefix.drop(base.size).foldLeft(start) {
        case (Some((folded, added)), c) =>
          if (c.deleteKey.isDefined || c.retires.nonEmpty) None
          else if (c.replaces.isEmpty)
            Some(if (folded(c.id) || added.contains(c.id)) (folded, added) else (folded, added :+ c.id))
          else if (c.rowPreserving && c.compacts.forall(folded)) Some((folded -- c.compacts + c.id, added))
          else None
        case (None, _) => None
      }.collect { case (folded, added) if visibleIn(prefix).toSet == folded ++ added => added }
    }

  // ---- writers ----
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Exclusive lock on a table's commit log for the duration of `body`: a
    * JVM-level monitor (two threads of one JVM — FileChannel.lock throws
    * OverlappingFileLockException rather than blocking on a same-process
    * overlap) nested inside an OS-level `FileChannel.lock` on a sidecar
    * file (two processes on one filesystem). On a real object store the
    * swap-in is the catalog commit, not a file lock. */
  private[graft] def withLock[T](tableDir: String)(body: => T): T = {
    val key = Paths.get(tableDir).toAbsolutePath.normalize.toString
    val mon = monitors.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      Files.createDirectories(Paths.get(tableDir))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(tableDir, LockFile),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }
  }

  private def write(tableDir: String, c: Commit): Unit =
    Files.write(Paths.get(tableDir, LogFile), (render(c) + "\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Ingest's commit: append `c` under the lock, so it never interleaves
    * with a maintenance writer's compare-move-append. */
  def append(tableDir: String, c: Commit): Unit = withLock(tableDir)(write(tableDir, c))

  /** Optimistic-concurrency commit of a maintenance write: the log must not
    * have moved since `base`, the prefix the result was computed from.
    * Under the lock the winner atomically renames its staged dirs into
    * place — `c`'s data dir (every commit has one, empty when it wrote no
    * rows) and delete dir — and appends `c`; a loser finds the log moved,
    * deletes its staging and returns false (the caller retries or gives
    * up). No staged file is ever visible before its commit. */
  def commitStaged(tableDir: String, base: Seq[Commit], c: Commit,
      data: Path, deletes: Option[Path] = None): Boolean = {
    val moves = (data -> Paths.get(batchDir(tableDir, c.id))) +:
      deletes.map(_ -> Paths.get(deletesDir(tableDir, c.id))).toSeq
    withLock(tableDir) {
      if (commits(tableDir) == base) {
        moves.foreach { case (src, dst) =>
          Files.createDirectories(dst.getParent)
          // an existing destination is provably torn-write garbage: ids are
          // allocated above the log's max, and the log just re-verified as
          // unmoved, so no commit named this dir — clear it and rename over
          deleteDir(dst)
          Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        }
        write(tableDir, c); true
      } else { moves.foreach { case (src, _) => deleteDir(src) }; false }
    }
  }

  /** GC crash leftovers under `_staging/`: a writer that died between
    * staging its files and committing leaves an orphaned nonce'd dir —
    * invisible to readers but paying storage forever. Deletes staging dirs
    * older than `maxAgeMs` (default 1 h; a LIVE writer's staging is
    * necessarily younger — its job is running right now) under the lock, so
    * a sweep can never race the winner's rename inside [[commitStaged]].
    * Run it on maintenance startup, the way Iceberg deployments schedule
    * orphan-file cleanup. Returns the deleted dir names. */
  def gcStaging(tableDir: String, maxAgeMs: Long = 3600000L): Seq[String] =
    withLock(tableDir) {
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

  private[streaming] def deleteDir(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      val all = try s.sorted(java.util.Comparator.reverseOrder()).toArray(new Array[Path](_))
      finally s.close()
      all.foreach(Files.deleteIfExists(_))
    }
}
