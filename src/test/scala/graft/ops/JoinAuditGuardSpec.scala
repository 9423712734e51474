package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The graded join-order audits are built from ONE template
  * ([[JoinAudit]]) and bin their histograms with ONE formula
  * ([[Layout.histBinOf]]). The pieces were hand-copied once per query
  * before — ten rank/grade tails and thirteen copies of the bin formula —
  * so a fix to one copy silently skipped the others. */
class JoinAuditGuardSpec extends AnyFunSuite {

  private val mainRoot = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** `file:line: text` of every main-source line containing `text`. */
  private def hits(text: String): List[(String, Int, String)] = {
    assert(Files.isDirectory(mainRoot), s"$mainRoot not found")
    val walk = Files.walk(mainRoot)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
      if line.contains(text)
    } yield (f.getFileName.toString, i + 1, line.trim)
  }

  private def show(hs: Seq[(String, Int, String)]) =
    hs.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n", "\n", "")

  test("only JoinAudit writes the audits' rank/grade tail") {
    val (template, copies) =
      hits("FROM costed ORDER BY").partition(_._1 == "JoinAudit.scala")
    assert(copies.isEmpty, show(copies))
    assert(template.size == 1, show(template))
  }

  test("only Layout.histBinOf writes the equi-width bin formula") {
    val layout = Paths.get(mainRoot.toString, "graft", "ops", "Layout.scala")
    val lines = Files.readAllLines(layout).asScala
    val defLine = lines.indexWhere(_.contains("def histBinOf(")) + 1
    assert(defLine > 0, "Layout.histBinOf not found")
    val (formula, copies) = hits("HistBins - 1").partition {
      case (f, n, _) => f == "Layout.scala" && n - defLine <= 3 && n >= defLine
    }
    assert(copies.isEmpty, show(copies))
    assert(formula.size == 1, show(formula))
  }
}
