package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.multimodal.Multimodal

/** S26 streaming container gate: decisions are the literal q188 dispatch,
  * media ∪ quarantine is a partition of the input, the Hive container
  * layout prunes, and replay re-decides identically. Every plan the gate
  * executes must COMPILE — janino rejecting a generated `processNext()`
  * (the 64 KB method limit) is a silent fallback to interpreted
  * execution, which r12/r13 shipped undetected at this exact seam
  * (VERDICT r13 #1); the log capture below turns that into a red test.
  */
class ContainerGateStreamSpec extends SparkSpec {

  /** Capture CodeGenerator's compile-failure ERROR events while `body`
    * runs — the only runtime evidence of a whole-stage-codegen janino
    * rejection (the query still succeeds, interpreted). */
  private def codegenFailuresDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-cg-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Failed to compile")) { captured.add(m); () }
      }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    try {
      val r = body
      (r, captured.toArray(Array.empty[String]).toSeq)
    } finally {
      cfg.getRootLogger.removeAppender("graft-cg-capture")
      ctx.updateLoggers()
      app.stop()
    }
  }

  test("every gate plan stays within janino's method limit — classify " +
      "compiles JIT-small, sink splits compile, no silent interpretation") {
    val s = spark
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val root = Files.createTempDirectory("graft-cgc-").toString
    // parquet-backed media, the micro-batch plan shape (filters pushable)
    Multimodal.mixedMediaTable(s, sf).write.parquet(s"$root/media")
    val media = s.read.parquet(s"$root/media")
    def maxMethods(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      codegenStringSeq(df.queryExecution.executedPlan).map {
        case (subtree, _, stats) =>
          assert(stats.maxMethodCodeSize != -1,
            s"whole-stage codegen failed to compile (janino):\n" +
              subtree.linesIterator.take(3).mkString("\n"))
          stats.maxMethodCodeSize
      }
    val classified = Multimodal.classifyContainers(media)
    // the classify stages are the per-payload hot path: they must not
    // just compile but stay under HotSpot's 8 KB JIT ceiling
    val sizes = maxMethods(classified)
    assert(sizes.nonEmpty && sizes.forall(_ <= 8000),
      s"classify stage exceeds the JIT method ceiling: $sizes")
    val pinned = classified.persist()
    try {
      val (ok, quarantine) = ContainerGateStream.split(pinned)
      maxMethods(ok)
      maxMethods(quarantine)
    } finally { pinned.unpersist(); () }
  }

  test("classification parity with q188, sinks partition the input, " +
      "container layout prunes, replay is idempotent, zero codegen " +
      "compile failures") {
    val (_, failures) = codegenFailuresDuring {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val root = Files.createTempDirectory("graft-cg-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    val media = Multimodal.q188ContainerGate(s, sf) // batch truth
    Multimodal.mixedMediaTable(s, sf)
      .write.mode("append").parquet(incoming)

    val q0 = ContainerGateStream.run(
      s.readStream.schema("doc_id long, payload binary").parquet(incoming),
      root)
    assert(q0.awaitTermination(120000))

    def key(r: org.apache.spark.sql.Row): (Long, String, String, Seq[Long]) =
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) "-" else r.getString(2),
        (3 to 12).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)))
    val cols = Seq($"doc_id", $"container", $"byte_order", $"width", $"height",
      $"bit_depth", $"channels", $"sample_rate", $"data_size",
      $"duration_ms", $"timescale", $"duration", $"n_bytes")
    val ok = s.read.parquet(s"$root/media").select(cols: _*)
      .collect().map(key)
    val quarantined = s.read.parquet(s"$root/quarantine").select(cols: _*)
      .collect().map(key)
    val truth = media.collect().map(key)

    // the stream's two sinks ARE the batch classification, split
    assert(ok.forall(_._2 != "unknown"))
    assert(quarantined.forall(_._2 == "unknown"))
    assert((ok ++ quarantined).sortBy(_._1).toSeq ===
      truth.sortBy(_._1).toSeq)
    assert(ok.nonEmpty && quarantined.nonEmpty, "fixture split degenerate")
    // all five families present — the gate exercises every dispatch arm
    assert(ok.map(_._2).toSet === Set("png", "jpeg", "wav", "mp4", "tiff"))

    // Hive layout: one directory per family under the batch dir, so a
    // family job's filter prunes to its own files
    val famDirs = new java.io.File(s"$root/media/batch=0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(famDirs === Set("container=png", "container=jpeg",
      "container=wav", "container=mp4", "container=tiff"))

    // replay: a restarted stream over one more file re-decides with the
    // same dispatch — a malformed asset must quarantine, not kill the run
    val garbage: Array[Byte] =
      Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++
        Array.fill(8)(0x69.toByte) // the r11 CAST_OVERFLOW repro shape
    Seq((90000001L, garbage)).toDF("doc_id", "payload")
      .write.mode("append").parquet(incoming)
    val q1 = ContainerGateStream.run(
      s.readStream.schema("doc_id long, payload binary").parquet(incoming),
      root)
    assert(q1.awaitTermination(120000))
    val quarantined2 = s.read.parquet(s"$root/quarantine")
      .select($"doc_id").as[Long].collect().toSet
    assert(quarantined2.contains(90000001L),
      "malformed asset must land in quarantine")
    assert(quarantined2 -- Set(90000001L) === quarantined.map(_._1).toSet,
      "replay changed prior decisions")
    }
    assert(failures.isEmpty,
      "generated code failed to compile during the gate run (the stage " +
        s"ran interpreted):\n${failures.mkString("\n")}")
  }
}
