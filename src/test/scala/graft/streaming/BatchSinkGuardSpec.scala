package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The overwrite-by-batch protocol lives in ONE module: no main source
  * other than BatchSink may frame its own foreachBatch. Per-seam copies
  * drifted before (some fanned their disjoint outputs, some wrote them one
  * after another), and a fault-injection harness needs one sink to hook.
  * Its read side likewise: no main source lists a directory through
  * `java.io.File`, which reads every non-local root as empty. */
class BatchSinkGuardSpec extends AnyFunSuite {

  private val mainRoot = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private def mainSources: List[java.nio.file.Path] = {
    assert(Files.isDirectory(mainRoot), s"$mainRoot not found")
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** `file:line: text` of every line of `f` that `pattern` matches. */
  private def matches(f: java.nio.file.Path, pattern: scala.util.matching.Regex) =
    Files.readAllLines(f).asScala.zipWithIndex
      .filter { case (line, _) => pattern.findFirstIn(line).isDefined }
      .map { case (line, i) => s"${mainRoot.relativize(f)}:${i + 1}: ${line.trim}" }

  /** The streams that keep their own foreachBatch, each with its reason. */
  private val Exempt = Map(
    "SigningStream.scala" ->
      ("append sink at a caller-chosen checkpoint path (the benchmark's " +
        "sign_stream workload passes its own)"),
    "IngestStream.scala" ->
      "append sink at a caller-chosen checkpoint path",
    "RetryQueue.scala" ->
      "append sink at a caller-chosen checkpoint path",
    "SampleStream.scala" ->
      "Update-mode state output, rewritten per shard by dynamic overwrite")

  test("only BatchSink calls foreachBatch, apart from the exempt append and state sinks") {
    val sources = mainSources
    def calls(f: java.nio.file.Path) = matches(f, raw"\.foreachBatch\b".r)
    val byName = sources.map(f => f.getFileName.toString -> f).toMap
    assert(calls(byName("BatchSink.scala")).nonEmpty)
    // every exemption still names a stream that needs it
    for ((name, why) <- Exempt)
      assert(byName.get(name).exists(calls(_).nonEmpty), s"$name: $why")
    val offenders = for {
      f <- sources
      name = f.getFileName.toString
      if name != "BatchSink.scala" && !Exempt.contains(name)
      hit <- calls(f)
    } yield hit
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("no main source lists a directory through java.io.File's listFiles") {
    val offenders = mainSources.flatMap(matches(_, raw"\blistFiles\(".r))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
