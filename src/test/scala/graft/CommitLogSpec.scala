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
    "compaction" -> """{"batch":1000000000000,"rows":59998,"rejects":0,"committed":true,"compacts":[0,1,2],"rowPreserving":true}""",
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
    assert(comp == Commit(1000000000000L, 59998L, 0L, replaces = Some(Seq(0L, 1L, 2L)), rowPreserving = true))
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

  test("row-preserving: round trip, legacy compaction lines, and which writers mark it") {
    val marked = Commit(7L, 10L, replaces = Some(Seq(1L, 2L)), rowPreserving = true)
    assert(CommitLog.parse(CommitLog.render(marked)) == Some(marked))
    assert(!CommitLog.parse("""{"batch":1000000000000,"rows":200,"rejects":0,"committed":true,"compacts":[0,1,2]}""")
      .get.rowPreserving, "a line written before the field is not row-preserving")
    assert(!CommitLog.render(Commit(8L, replaces = Some(Seq(1L)))).contains("rowPreserving"))
    val byShape = written.toMap.view.mapValues(l => CommitLog.parse(l).get.rowPreserving).toMap
    assert(byShape("compaction"))
    assert(Seq("COW merge", "pure-insert COW merge", "rewriteDeletes", "data-less retire").forall(!byShape(_)))
  }

  test("appendedSince: the batches a fold lacks, or None when it cannot be extended") {
    val base = Seq(Commit(0L), Commit(1L))
    def since(more: Commit*) = CommitLog.appendedSince(base, base ++ more)
    assert(since() == Some(Nil))
    assert(since(Commit(2L), Commit(3L)) == Some(Seq(2L, 3L)))
    // a compaction of folded batches only renames them
    assert(since(Commit(10L, replaces = Some(Seq(0L, 1L)), rowPreserving = true), Commit(2L)) == Some(Seq(2L)))
    assert(since(Commit(2L), Commit(10L, replaces = Some(Seq(0L, 1L)), rowPreserving = true)) == Some(Seq(2L)))
    // a compaction that took in an unfolded batch
    assert(since(Commit(2L), Commit(10L, replaces = Some(Seq(1L, 2L)), rowPreserving = true)).isEmpty)
    // a replacement that is not row-preserving: a COW merge, or a legacy line
    assert(since(Commit(10L, replaces = Some(Seq(1L)))).isEmpty)
    assert(since(Commit(10L, rows = 2L, replaces = Some(Nil))).isEmpty)
    // a MOR delete, a retire
    assert(since(Commit(11L, deleteKey = Some("k"))).isEmpty)
    assert(since(Commit(12L, replaces = Some(Nil), retires = Seq(11L))).isEmpty)
    // a prefix that does not extend the base: an older read, a rewritten log
    assert(CommitLog.appendedSince(base, base.take(1)).isEmpty)
    assert(CommitLog.appendedSince(base, Seq(Commit(0L), Commit(5L), Commit(1L))).isEmpty)
    // a replayed commit line adds nothing; a compaction's replaced ids must be folded
    assert(since(Commit(1L), Commit(2L)) == Some(Seq(2L)))
    val compacted = base :+ Commit(10L, replaces = Some(Seq(0L, 1L)), rowPreserving = true)
    assert(CommitLog.appendedSince(compacted, compacted :+ Commit(2L)) == Some(Seq(2L)))
    assert(CommitLog.appendedSince(compacted,
      compacted :+ Commit(11L, replaces = Some(Seq(0L)), rowPreserving = true)).isEmpty,
      "a folded batch that vanished")
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
