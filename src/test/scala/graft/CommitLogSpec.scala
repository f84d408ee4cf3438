package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CommitLog
import graft.streaming.CommitLog.Commit

/** The commit-log codec: every line shape the engine writes re-renders
  * byte-for-byte, and the shorter lines of older logs still parse. */
class CommitLogSpec extends AnyFunSuite {
  private val written = Seq(
    "ingest" -> """{"batch":0,"rows":20000,"rejects":0,"committed":true}""",
    "ingest with rejects" -> """{"batch":2,"rows":19998,"rejects":2,"committed":true}""",
    "reject-only ingest" -> """{"batch":0,"rows":0,"rejects":3,"committed":true}""",
    "compaction" -> """{"batch":1000000000000,"rows":59998,"rejects":0,"committed":true,"compacts":[0,1,2]}""",
    "COW merge" -> """{"batch":1000000000001,"rows":59998,"rejects":0,"committed":true,"compacts":[1000000000000]}""",
    "pure-insert COW merge" -> """{"batch":1000000000002,"rows":2,"rejects":0,"committed":true,"compacts":[]}""",
    "MOR merge" -> """{"batch":1000000000003,"rows":2,"rejects":0,"committed":true,"deleteKey":"trade_id"}""",
    "tombstone-only MOR merge" -> """{"batch":1000000000004,"rows":0,"rejects":0,"committed":true,"deleteKey":"trade_id"}""",
    "rewriteDeletes" -> ("""{"batch":1000000000005,"rows":59996,"rejects":0,"committed":true,""" +
      """"compacts":[1000000000001,1000000000002],"retiresDeletes":[1000000000003,1000000000004]}"""),
    "data-less retire" -> """{"batch":1000000000006,"rows":0,"rejects":0,"committed":true,"compacts":[],"retiresDeletes":[1000000000003]}""")

  for ((shape, line) <- written) test(s"codec round trip: $shape") {
    val c = CommitLog.parse(line)
    assert(c.isDefined, line)
    assert(CommitLog.render(c.get) == line)
  }

  test("codec: fields parse to what the folds read") {
    val Seq(_, _, _, comp, _, pure, mor, _, rw, _) = written.map(l => CommitLog.parse(l._2).get)
    assert(comp == Commit(1000000000000L, 59998L, 0L, replaces = Some(Seq(0L, 1L, 2L))))
    assert(pure.replaces == Some(Nil) && pure.compacts.isEmpty)
    assert(mor.deleteKey == Some("trade_id") && mor.replaces.isEmpty)
    assert(rw.retires == Seq(1000000000003L, 1000000000004L))
  }

  test("codec: older log lines still parse") {
    assert(CommitLog.parse("""{"batch":0}""") == Some(Commit(0L)))
    assert(CommitLog.parse("""{"batch":0,"committed":true}""") == Some(Commit(0L)))
    assert(CommitLog.parse("""{"batch":1000000000000,"compacts":[0, 1]}""").get.compacts == Seq(0L, 1L))
    assert(CommitLog.parse("""{"batch":1000000000001,"deleteKey":"user_id"}""").get.deleteKey == Some("user_id"))
    assert(CommitLog.parse("").isEmpty)
  }

  test("lineage folds: visibility and live deletes follow log position") {
    val log = Seq(Commit(0L), Commit(1L), Commit(10L, replaces = Some(Seq(0L, 1L))), Commit(2L),
      Commit(11L, deleteKey = Some("k")), Commit(12L, replaces = Some(Nil), retires = Seq(11L)))
    assert(CommitLog.visibleIn(log.take(2)) == Seq(0L, 1L))
    assert(CommitLog.visibleIn(log) == Seq(10L, 2L, 11L, 12L))
    assert(CommitLog.liveDeletes(log.take(5)) == Seq((4, 11L, "k")))
    assert(CommitLog.liveDeletes(log).isEmpty)
  }
}
