package graft

import java.net.URL

import org.apache.hadoop.conf.Configuration

/** A Hadoop conf without the default files of YARN and MapReduce.
  *
  * Every task that writes or reads files deserializes the session's Hadoop
  * conf, and Hadoop serializes each entry with its provenance, every source
  * string a gzip member of its own. Loaded in full, the engine session's
  * conf holds 1,110 entries (114,570 bytes serialized). `yarn-default.xml`
  * (520 of them, all `yarn.*` and one YARN ACL key) configures daemons a
  * `local[n]` engine never starts; `mapred-default.xml` (194) holds
  * MapReduce's job and shuffle settings, and the few keys on Spark's file
  * I/O path whose file value differs from Hadoop's code default are pinned
  * in [[Engine.builder]]. Without the two files the conf holds 401 entries
  * (40,674 bytes). `core-default.xml` (the FS, IO and security defaults),
  * every `*-site.xml` and every `spark.hadoop.*` key load as before.
  *
  * The files are hidden by the conf's resource class loader, which Hadoop
  * copies into every conf cloned from this one (per-query confs, write
  * jobs, scan broadcasts, streaming-query clones) and consults again on
  * every reload, so a later `Configuration.addDefaultResource` keeps the
  * conf lean. */
object LeanHadoopConf {
  val hidden: Set[String] = Set("yarn-default.xml", "mapred-default.xml")

  private final class Loader(parent: ClassLoader) extends ClassLoader(parent) {
    override def getResource(name: String): URL =
      if (hidden(name)) null else super.getResource(name)
  }

  /** Hide [[hidden]] from `conf` and reload it; a no-op on a lean conf. */
  def apply(conf: Configuration): Unit = conf.synchronized {
    if (!isLean(conf)) {
      conf.setClassLoader(new Loader(conf.getClassLoader))
      conf.reloadConfiguration()
    }
  }

  def isLean(conf: Configuration): Boolean = conf.getClassLoader.isInstanceOf[Loader]
}
