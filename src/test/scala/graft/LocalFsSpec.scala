package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.streaming._

/** The engine's local FileSystem ([[ForkFreeLocalFileSystem]] and its
  * FileContext face) behaves as Hadoop's stock local one, file for file,
  * and the cycle's I/O path starts no OS process. */
class LocalFsSpec extends SparkSpec {

  private def perms(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** Every observable effect of one script of FileSystem calls under `base`. */
  private def script(fs: FileSystem, base: String): Seq[(String, Any)] = {
    val d = new Path(s"$base/d/e")
    val f = new Path(s"$base/d/f.txt")
    def write(p: Path, s: String, overwrite: Boolean): Unit = {
      val out = fs.create(p, overwrite); try out.write(s.getBytes) finally out.close()
    }
    def read(p: Path): String = {
      val in = fs.open(p); try new String(in.readAllBytes()) finally in.close()
    }
    val out = Seq.newBuilder[(String, Any)]
    out += "mkdirs" -> fs.mkdirs(d, new FsPermission("750"))
    out += "mkdirs.perm" -> perms(s"$base/d/e")
    out += "mkdirs.parent.perm" -> perms(s"$base/d")
    write(f, "hello", overwrite = false)
    out += "create.perm" -> perms(s"$base/d/f.txt")
    out += "crc" -> Files.exists(Paths.get(s"$base/d/.f.txt.crc"))
    out += "create.noOverwrite" -> scala.util.Try(write(f, "x", overwrite = false)).isFailure
    write(f, "world!", overwrite = true)
    out += "overwrite" -> read(f)
    val g = new Path(s"$base/d/g.txt")
    val ps = fs.create(g, new FsPermission("640"), false, 4096, 1.toShort, 1L << 25, null)
    ps.close()
    out += "create.explicit.perm" -> perms(s"$base/d/g.txt")
    fs.setPermission(g, new FsPermission("604"))
    out += "setPermission" -> perms(s"$base/d/g.txt")
    out += "status.perm" -> fs.getFileStatus(g).getPermission.toString
    out += "rename" -> fs.rename(f, new Path(s"$base/d/h.txt"))
    out += "rename.crc" -> Files.exists(Paths.get(s"$base/d/.h.txt.crc"))
    out += "rename.src" -> fs.exists(f)
    out += "list" -> fs.listStatus(new Path(s"$base/d")).toSeq
      .map(s => (s.getPath.getName, s.isDirectory, s.getLen)).sorted
    Files.writeString(Paths.get(s"$base/target"), "abc")
    Files.createSymbolicLink(Paths.get(s"$base/link"), Paths.get("target"))
    val link = fs.getFileLinkStatus(new Path(s"$base/link"))
    out += "link" -> (link.isSymlink, link.getSymlink.getName)
    val plain = fs.getFileLinkStatus(new Path(s"$base/target"))
    out += "nonlink" -> (plain.isSymlink, plain.isFile, plain.getLen,
      plain.getPath == fs.getFileStatus(new Path(s"$base/target")).getPath)
    out += "nonlink.missing" -> scala.util.Try(fs.getFileLinkStatus(new Path(s"$base/nope")))
      .failed.toOption.map(_.getClass.getSimpleName)
    out += "delete" -> fs.delete(new Path(s"$base/d"), true)
    out += "delete.gone" -> fs.exists(new Path(s"$base/d"))
    out.result()
  }

  test("the fork-free local FileSystem matches Hadoop's stock LocalFileSystem") {
    val root = tmpDir("graft-localfs")
    val conf = new Configuration()
    val ours = new ForkFreeLocalFileSystem; ours.initialize(URI.create("file:///"), conf)
    val stock = new LocalFileSystem; stock.initialize(URI.create("file:///"), conf)
    val a = script(ours, s"$root/ours")
    val b = script(stock, s"$root/stock")
    assert(a == b)
    // the script exercised what it claims to
    assert(a.toMap.apply("crc") == true && a.toMap.apply("link") == (true, "target"))
  }

  test("the fork-free FileContext matches Hadoop's stock LocalFs on create and overwrite-rename") {
    val root = tmpDir("graft-localfc")
    def run(impl: Option[String], base: String): Seq[Any] = {
      val conf = new Configuration()
      impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val src = new Path(s"$base/tmp"); val dst = new Path(s"$base/0")
      fc.mkdir(new Path(base), FsPermission.getDirDefault, true)
      for ((p, s) <- Seq(src -> "new", dst -> "old")) {
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(s.getBytes) finally out.close()
      }
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      Seq(Files.readString(Paths.get(s"$base/0")),
        Files.exists(Paths.get(s"$base/tmp")), Files.exists(Paths.get(s"$base/.0.crc")),
        perms(s"$base/0"), fc.getFileLinkStatus(dst).isSymlink)
    }
    assert(run(Some(classOf[ForkFreeLocalFs].getName), s"$root/ours") == run(None, s"$root/stock"))
  }

  test("sessions resolve file: paths to the engine's FileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
      .getClass == classOf[ForkFreeLocalFs])
  }

  test("an ingest, a table read and a compaction start no process from Hadoop's Shell") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val work = tmpDir("graft-noforks")
    val topic = FileTopic(s"$work/topic")
    // the session starts, and earlier specs' events are delivered, before
    // recording: Hadoop's one-time setsid probe belongs to session start
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      for (seed <- 1L to 2L) {
        TradeGen.produce(spark, topic, 200L, seed)
        IngestJob.start(spark, topic, s"$work/table", AnalyticsPipeline.tradeSchema,
          Seq("trade_id", "symbol"), "ts_event", s"$work/ckpt", Trigger.AvailableNow())
          .awaitTermination()
      }
      assert(IngestJob.readTable(spark, s"$work/table").count() == 400L)
      assert(Maintenance.compact(spark, s"$work/table").isDefined)
    } finally rec.stop()
    val dump = Paths.get(work, "procs.jfr")
    rec.dump(dump); rec.close()
    val forked = RecordingFile.readAllEvents(dump).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
    }.map(_.getString("command").split(" ").head)
    assert(forked.isEmpty, forked.groupBy(identity).map { case (c, n) => s"$c x${n.size}" })
  }
}
