package graft.queries

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on ROADMAP aim 2's duplicated-line count: every derivation
  * the query modules share has one spelling, so `tools/dup_windows.py`
  * (the count's one definition) must find no repeated 6-line window.
  * A missing `python3` or tool fails the test; it never skips.
  */
class DupWindowsSpec extends AnyFunSuite {
  test("the query modules repeat no 6-line window (tools/dup_windows.py prints total 0)") {
    val tool = new java.io.File("tools/dup_windows.py")
    assert(tool.isFile, s"${tool.getAbsolutePath} not found")
    val out = Seq("python3", tool.getPath).!!
    assert(out.linesIterator.toSeq.lastOption.contains("total\t0"), s"dup_windows.py printed:\n$out")
  }
}
