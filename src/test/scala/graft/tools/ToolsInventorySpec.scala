package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main under `graft/tools/` is listed, with what it is for, in
  * README's "Operational tools" paragraph — a new single-question main
  * cannot land without being named there.
  */
class ToolsInventorySpec extends AnyFunSuite {

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** Objects under `graft/tools/` that declare a `def main`. */
  private def mains: Seq[String] = {
    val dir = Paths.get("src/main/scala/graft/tools")
    val files = Files.list(dir).iterator().asScala.toSeq
    files.filter(_.toString.endsWith(".scala")).sorted.flatMap { f =>
      val src = read(f.toString)
      val at = src.indexOf("def main(")
      if (at < 0) None
      else "object (\\w+)".r.findAllMatchIn(src.substring(0, at))
        .toSeq.lastOption.map(_.group(1))
    }
  }

  /** The README bullet starting `- Operational tools`, up to the next
    * bullet, heading or blank line.
    */
  private def toolsParagraph: String = {
    val lines = read("README.md").linesIterator.toSeq
      .dropWhile(!_.startsWith("- Operational tools"))
    require(lines.nonEmpty, "README has no '- Operational tools' paragraph")
    (lines.head +: lines.tail.takeWhile(l =>
      l.trim.nonEmpty && !l.startsWith("- ") && !l.startsWith("#")))
      .mkString("\n")
  }

  test("the scan finds the known mains") {
    assert(Set("TimeSet", "ExplainQ", "ScaleUp").subsetOf(mains.toSet))
    assert(!mains.contains("Timing"))
  }

  test("every graft.tools main is named in README's Operational tools paragraph") {
    val para = toolsParagraph
    val missing = mains.filterNot(m => para.contains(s"graft.tools.$m"))
    assert(missing.isEmpty,
      s"mains missing from README's Operational tools paragraph: " +
        missing.mkString(", "))
  }
}
