package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene gate over `src/main/scala`: no control bytes other than
  * newline, tab and carriage return (a raw NUL makes `grep` treat the file
  * as binary), and the store swap protocol and marker format stay in ONE
  * module — renames and raw file opens/creates appear only in the
  * store-lifecycle kernel ([[StoreFs]]). */
class SourceLintSpec extends AnyFunSuite {

  private val Kernel = "storefs.scala"

  private def sources: Seq[java.io.File] = {
    val root = Seq("src/main/scala", "../src/main/scala")
      .map(new java.io.File(_)).find(_.isDirectory)
      .getOrElse(fail("cannot locate src/main/scala"))
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.sortBy(_.getName).flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    walk(root)
  }

  test("src/main/scala holds no control bytes besides \\n, \\t and \\r") {
    val bad = for {
      f <- sources
      (b, i) <- java.nio.file.Files.readAllBytes(f.toPath).zipWithIndex
      if (b >= 0 && b < 0x20 && b != '\n' && b != '\t' && b != '\r') || b == 0x7f
    } yield s"${f.getPath} @ byte $i: 0x${"%02x".format(b)}"
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("renames and raw file opens/creates occur only in the store kernel") {
    val banned = Seq(".rename(", "fs.open(", "fs.create(")
    val bad = for {
      f <- sources if f.getName != Kernel
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .map(_.toString).zipWithIndex.toSeq
      token <- banned if line.contains(token)
    } yield s"${f.getPath}:${n + 1}: $token"
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
