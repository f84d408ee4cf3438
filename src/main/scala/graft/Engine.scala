package graft

import org.apache.spark.GraftPins
import org.apache.spark.sql.{GraftExprBridge, SparkSession}

/** The engine session, and the only place a `SparkSession` is built: every
  * main (Bench, Verify, the audits), the benchmark harness and the test
  * fixture take [[builder]] or [[session]], so the oracle gate, the tests
  * and the benchmark run the plans the engine serves. It is local[cpus]
  * with the engine defaults, the Graft extensions (custom expressions +
  * optimizer rules), and `SPARK_GRAFT_CONF="k=v;k=v"` overrides for
  * experiments.
  *
  * Engine defaults keep AQE on (coalescing, skew-join handling — the 100 TB
  * posture); individual mains may layer a latency profile on top (see
  * Bench). */
object Engine {
  /** `SPARK_GRAFT_CPUS` is the deployment setting; without it the session
    * takes the cores the JVM measures. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** `defaults` apply after the engine base confs but BEFORE the
    * `SPARK_GRAFT_CONF` env overrides, so experiments always win. */
  def builder(defaults: (String, String)*): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Pin timestamp semantics at the engine seam: tz-less parquet
      // timestamp[us] columns would otherwise infer as TIMESTAMP_NTZ
      // (Spark 4 default), and strict functions (unix_micros) reject NTZ.
      // Under the UTC-pinned session the two types carry identical
      // wall-clock micros, so reading everything as TIMESTAMP is exact and
      // makes the suite immune to the physical type the data generator
      // happens to emit. Tables.load still casts NTZ columns: a file Spark
      // wrote as NTZ says so in its footer, whatever this flag says.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "2000")
      // static conf, default 100: a 58-query suite × several codegen units
      // each evicts round-robin, so every warm query pays a janino recompile
      // (~0.5–1 s). Sized to hold the whole suite's generated classes.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // One compiled class per code text across streaming queries.
      // CodeGenerator's cache is keyed on (context classloader, code text).
      // With artifact isolation on (Spark's default) every session clone
      // gets its own artifact state and its tasks run under a fresh
      // executor classloader, and every `writeStream.start()` clones the
      // session: each streaming query recompiled every generated class,
      // and the JIT started over on each. The engine adds no session
      // artifacts (no addArtifact or addJar), so isolation buys it
      // nothing. Spark reads the flag when a session is created, so it
      // belongs on the builder.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Local files go through ForkFreeLocalFileSystem (FileSystem API)
      // and ForkFreeLocalFs (FileContext, which Spark's streaming
      // checkpoint manager uses). Without libhadoop the stock local
      // classes fork `chmod` for every created file and directory and
      // `readlink` for every checkpoint rename: about 150 processes per
      // cycle op, each costing milliseconds, on a path that only commits
      // files. Hadoop's `FileSystem.CACHE` is keyed by scheme and user,
      // not by conf, so the first `FileSystem.get("file:…")` in a JVM
      // fixes the class for every later caller, whatever its conf says:
      // this builder is the first call in every main and in the test
      // fixture.
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      // The session's Hadoop conf loads no mapred-default.xml
      // (LeanHadoopConf). These are the keys of that file on Spark's file
      // I/O path whose value differs from Hadoop's code default, pinned to
      // the file's value; every other such key reads the same either way.
      .config("spark.hadoop.mapreduce.input.fileinputformat.split.minsize", "0")
      .config("spark.hadoop.mapreduce.output.fileoutputformat.compress.codec",
        "org.apache.hadoop.io.compress.DefaultCodec")
      .config("spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a",
        "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory")
      .config("spark.hadoop.mapreduce.outputcommitter.factory.scheme.abfs",
        "org.apache.hadoop.fs.azurebfs.commit.AzureManifestCommitterFactory")
      .config("spark.hadoop.mapreduce.outputcommitter.factory.scheme.gs",
        "org.apache.hadoop.mapreduce.lib.output.committer.manifest.ManifestCommitterFactory")
      // Named SQL catalog over the engine's DSv2 connector: three-part
      // names (`SELECT … FROM graft.sf001.lineitem`) resolve through
      // sources.GraftCatalog to Spark's parquet scan over the resolved
      // files — the same path as spark.read.format("graft"). Namespaces
      // are directories under root; the sfNNN aliases exist because the
      // testdata dir names carry dots SQL identifiers can't (unquoted).
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.root",
        sys.env.getOrElse("SPARK_GRAFT_DATA_ROOT", "/root/testdata"))
      .config("spark.sql.catalog.graft.ns.sf0001", "sf0.001")
      .config("spark.sql.catalog.graft.ns.sf001", "sf0.01")
      .config("spark.sql.catalog.graft.ns.sf01", "sf0.1")
      .config("spark.ui.enabled", "false")
    defaults.foreach { case (k, v) => b.config(k, v) }
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); b.config(k, v)
    })
    b
  }

  /** The built session with [[LeanHadoopConf]] applied to the two Hadoop
    * confs every other one is copied from: the SparkContext's, and the
    * SharedState's, which copied the first when it was created. */
  def session(defaults: (String, String)*): SparkSession = {
    val s = builder(defaults: _*).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    LeanHadoopConf(s.sparkContext.hadoopConfiguration)
    LeanHadoopConf(GraftExprBridge.sharedHadoopConf(s))
    s
  }

  /** Release the pins ([[Tables.pin]]) the calling thread has made since
    * its last reap, returning how many were still held.
    *
    * The contract: pins belong to the thread that builds a query, and that
    * thread calls this AFTER it has consumed the query's result — on
    * success and on failure alike. Results are lazy and pinned blocks have
    * no lineage, so the operator that pins can never release its own pins;
    * the caller that consumes the result can. Without a reap, a long-lived
    * session serving hundreds of queries accumulates every iterative
    * operator's blocks in the storage pool and slows later queries. Safe
    * because nothing in the engine keeps a pinned frame across queries:
    * cross-query caches (the table cache, the IVF index) `persist` through
    * the CacheManager and are never pins.
    *
    * Pins made by other threads are left alone, so concurrent clients of
    * one session can each reap after their own queries. */
  def reapLocalCheckpoints(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    Tables.takePins().count(GraftPins.release(sc, _))
  }
}
