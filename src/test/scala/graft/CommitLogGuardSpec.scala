package graft

import org.scalatest.funsuite.AnyFunSuite

/** The snapshot table's commit log has one owner, [[streaming.CommitLog]]:
  * a second renderer or parser of its lines, or a second place that knows
  * its file name, would let two readers of one table disagree on what is
  * committed. */
class CommitLogGuardSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala")
  private val owner = new java.io.File(root, "graft/streaming/CommitLog.scala")

  import ScalaSource.{files, text}

  private val formatMarks = Seq(
    "_snapshots\\.jsonl" -> "names the commit log file",
    "committed\\\\?\"\\s*:\\s*true" -> "renders a commit line",
    "batch\\\\?\"\\s*:" -> "renders or parses a commit line's id")

  test("only CommitLog names the commit log file or renders or parses its lines") {
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val own = text(owner)
    formatMarks.foreach { case (re, what) =>
      assert(re.r.findFirstIn(own).isDefined, s"the guard is stale: CommitLog no longer $what")
    }
    val hits = files(root).filter(_.getPath != owner.getPath).flatMap { f =>
      val t = text(f)
      formatMarks.collect { case (re, what) if re.r.findFirstIn(t).isDefined => s"${f.getPath} $what" }
    }
    assert(hits.isEmpty, s"commit-log format outside CommitLog: ${hits.mkString("; ")}")
  }

  test("one stream driver and one batch writer serve every ingest mode; the metadata source reuses the fold") {
    val ingest = text(new java.io.File(root, "graft/streaming/IngestJob.scala"))
    assert("\\.writeStream\\b".r.findAllIn(ingest).size == 1, "IngestJob: more than one writeStream")
    assert("def writeBatch\\b".r.findAllIn(ingest).size == 1, "IngestJob: more than one writeBatch")
    val source = text(new java.io.File(root, "graft/sources/CommitLogSource.scala"))
    assert(!source.contains("foldLeft") && source.contains("CommitLog.visibleIn"),
      "CommitLogSource folds visibility itself instead of calling CommitLog.visibleIn")
    val pipeline = text(new java.io.File(root, "graft/streaming/AnalyticsPipeline.scala"))
    assert(!pipeline.contains("compacts") && pipeline.contains("CommitLog.appendedSince"),
      "AnalyticsPipeline folds the lineage itself instead of calling CommitLog.appendedSince")
  }
}
