package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Caching policy for session-staged artifacts lives in ONE module: no
  * other main source may hook application end or declare its own
  * (session, dir)-keyed map. A second copy drifts — the copies this guard
  * replaced masked real probe faults as staleness and leaked stopped
  * sessions for the life of the JVM. */
class SessionCacheGuardSpec extends AnyFunSuite {

  test("only SessionCache hooks application end or keys a map by (session, dir)") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.endsWith(Paths.get("graft", "ops", "SessionCache.scala"))))
    val sessionDirKey = raw"\[\s*\(\s*SparkSession\s*,\s*String\s*\)\s*,".r
    val offenders = for {
      f <- sources if f.getFileName.toString != "SessionCache.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("SparkListenerApplicationEnd") ||
        sessionDirKey.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
