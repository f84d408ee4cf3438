package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{GraftExprBridge, SessionHadoopConf}
import org.apache.spark.util.SerializableConfiguration

/** The engine session's Hadoop conf loads neither YARN's nor MapReduce's
  * default file ([[LeanHadoopConf]]), and every other entry is as Hadoop
  * would load it. */
class LeanHadoopConfSpec extends SparkSpec {

  private def keys(c: Configuration): Set[String] = c.iterator.asScala.map(_.getKey).toSet

  private def serializedBytes(c: Configuration): Int = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c)); out.close()
    bytes.size
  }

  /** A conf that loads defaults loads every default resource registered so
    * far: register the hidden ones, as YARN's and MapReduce's classes do. */
  private def registerHidden(): Unit = LeanHadoopConf.hidden.foreach(Configuration.addDefaultResource)

  /** `lean` with the stock resource loader, reloaded: what the session's
    * conf holds without [[LeanHadoopConf]]. */
  private def loadedInFull(lean: Configuration): Configuration = {
    registerHidden()
    val full = new Configuration(lean)
    full.setClassLoader(classOf[Configuration].getClassLoader)
    full.reloadConfiguration()
    full
  }

  test("every key not sourced only from a hidden file keeps its exact raw value") {
    val lean = SessionHadoopConf(spark)
    val full = loadedInFull(lean)
    val fromHiddenOnly = keys(full).filter { k =>
      Option(full.getPropertySources(k)).exists(_.forall(LeanHadoopConf.hidden))
    }
    assert(fromHiddenOnly.size > 500, fromHiddenOnly.size)
    assert(keys(lean) == keys(full) -- fromHiddenOnly)
    val changed = keys(lean).filter(k => lean.getRaw(k) != full.getRaw(k))
    assert(changed.isEmpty, changed)
  }

  test("no yarn.* key reaches a query's Hadoop conf") {
    val yarn = keys(SessionHadoopConf(spark)).filter(_.startsWith("yarn."))
    assert(yarn.isEmpty, yarn.take(5))
  }

  test("file: paths still name the fork-free classes") {
    val c = SessionHadoopConf(spark)
    assert(c.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
    assert(c.get("fs.AbstractFileSystem.file.impl") == classOf[ForkFreeLocalFs].getName)
  }

  test("the conf stays lean after a new default resource forces a reload") {
    val shared = GraftExprBridge.sharedHadoopConf(spark)
    val copy = new Configuration(shared)
    // unset survives only until the next reload, which proves there was one
    copy.unset("io.file.buffer.size")
    assert(copy.getRaw("io.file.buffer.size") == null)
    Configuration.addDefaultResource("graft-lean-conf-reload.xml")
    assert(copy.getRaw("io.file.buffer.size") != null)
    for (c <- Seq(copy, shared, SessionHadoopConf(spark)))
      assert(!keys(c).exists(_.startsWith("yarn.")))
  }

  test("a second engine session does not wrap the loader again") {
    val sc = spark.sparkContext.hadoopConfiguration
    val shared = GraftExprBridge.sharedHadoopConf(spark)
    val (scLoader, sharedLoader) = (sc.getClassLoader, shared.getClassLoader)
    assert(LeanHadoopConf.isLean(sc) && LeanHadoopConf.isLean(shared))
    Engine.session("spark.app.name" -> getClass.getSimpleName)
    assert(sc.getClassLoader eq scLoader)
    assert(shared.getClassLoader eq sharedLoader)
  }

  test("a task's serialized conf is under half of a fresh Configuration's") {
    registerHidden()
    val (lean, fresh) = (SessionHadoopConf(spark), new Configuration())
    val (leanBytes, freshBytes) = (serializedBytes(lean), serializedBytes(fresh))
    val full = loadedInFull(lean)
    info(s"session conf: ${full.size} -> ${lean.size} entries, " +
      s"${serializedBytes(full)} -> $leanBytes bytes; fresh conf ${fresh.size} entries, $freshBytes bytes")
    assert(leanBytes * 2 < freshBytes, s"$leanBytes vs $freshBytes")
  }

  /** Hadoop's code default of each `mapred-default.xml` key on Spark's file
    * I/O path that [[Engine.builder]] does not pin: `javap -constants` (or
    * `-c`, for a literal passed to `Configuration.get*`) on the classes of
    * hadoop-client-api that read the key. */
  private val codeDefaults = Map(
    "mapreduce.job.committer.setup.cleanup.needed" -> "true", // JobContextImpl
    "mapreduce.input.fileinputformat.list-status.num-threads" -> "1", // FileInputFormat
    "mapreduce.input.lineinputformat.linespermap" -> "1", // NLineInputFormat
    "mapreduce.output.fileoutputformat.compress" -> "false", // FileOutputFormat
    "mapreduce.output.fileoutputformat.compress.type" -> "RECORD", // SequenceFileOutputFormat
    "mapreduce.fileoutputcommitter.task.cleanup.enabled" -> "false") // FileOutputCommitter

  test("every MapReduce key on the file I/O path reads as it did with mapred-default.xml") {
    val xml = new Configuration(false)
    xml.addResource("mapred-default.xml")
    val onPath = keys(xml).filter(_.matches("mapreduce\\.(fileoutputcommitter|output\\.fileoutputformat|" +
      "input|outputcommitter\\.factory)\\..*|mapreduce\\.job\\.committer\\.setup\\.cleanup\\.needed"))
    assert(onPath.size > codeDefaults.size, onPath)
    val lean = SessionHadoopConf(spark)
    val full = loadedInFull(lean)
    // what the reading code sees: the conf's value, else its own default
    val differs = onPath.filter(k => Option(lean.getRaw(k)).orElse(codeDefaults.get(k)) != Option(full.getRaw(k)))
    assert(differs.isEmpty, differs.map(k => k -> (full.getRaw(k), lean.getRaw(k), codeDefaults.get(k))))
  }
}
