package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The overwrite-by-batch protocol lives in ONE module: no main source
  * other than BatchSink may frame its own foreachBatch. Per-seam copies
  * drifted before (some fanned their disjoint outputs, some wrote them one
  * after another), and a fault-injection harness needs one sink to hook. */
class BatchSinkGuardSpec extends AnyFunSuite {

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
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val call = raw"\.foreachBatch\b".r
    def calls(f: java.nio.file.Path) =
      Files.readAllLines(f).asScala.zipWithIndex
        .filter { case (line, _) => call.findFirstIn(line).isDefined }
    val byName = sources.map(f => f.getFileName.toString -> f).toMap
    assert(calls(byName("BatchSink.scala")).nonEmpty)
    // every exemption still names a stream that needs it
    for ((name, why) <- Exempt)
      assert(byName.get(name).exists(calls(_).nonEmpty), s"$name: $why")
    val offenders = for {
      f <- sources
      name = f.getFileName.toString
      if name != "BatchSink.scala" && !Exempt.contains(name)
      (line, i) <- calls(f)
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
