package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every pin goes through [[Tables.pin]], which records it for its thread's
  * reap; a direct `localCheckpoint` call would make a pin no reap finds. */
class PinGuardSpec extends AnyFunSuite {
  test("localCheckpoint is called only inside Tables.pin") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    // code only: comments blanked, strings emptied
    val calls = ScalaSource.files(root).flatMap { f =>
      "\\.localCheckpoint\\b".r.findAllMatchIn(ScalaSource.lex(ScalaSource.text(f))._1).map(_ => f.getPath).toSeq
    }
    assert(calls == Seq(new java.io.File(root, "graft/Tables.scala").getPath),
      s"localCheckpoint outside Tables.pin: ${calls.mkString(", ")}")
  }
}
