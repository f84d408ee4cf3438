package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every pin goes through [[Tables.pin]], which records it for its thread's
  * reap; a direct `localCheckpoint` call would make a pin no reap finds. */
class PinGuardSpec extends AnyFunSuite {
  test("localCheckpoint is called only inside Tables.pin") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    // code only: block comments, then line comments, are blanked first
    def code(f: java.io.File): String = {
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    }
    val calls = files(root).flatMap { f =>
      "\\.localCheckpoint\\b".r.findAllMatchIn(code(f)).map(_ => f.getPath).toSeq
    }
    assert(calls == Seq(new java.io.File(root, "graft/Tables.scala").getPath),
      s"localCheckpoint outside Tables.pin: ${calls.mkString(", ")}")
  }
}
