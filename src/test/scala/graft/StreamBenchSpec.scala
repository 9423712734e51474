package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import StreamBench.{Combined, Seam, SeamResult}

/** StreamBench's seam table and runner: the JSON contract Bench embeds,
  * the timeout rule (a timed-out seam leaves no query running), per-seam
  * isolation and the tag filter, and every real seam's answers at sf0.001.
  */
class StreamBenchSpec extends SparkSpec {

  private val keys = Seq("dedup", "decontam", "ann_refresh", "merge",
    "histogram", "chunking", "card", "sketch", "drift", "exact_decontam",
    "shards", "quality_gate", "serve", "encode", "sessions", "window_dedup",
    "sample", "anomaly_gate", "container_gate", "labels", "stats", "ndv",
    "stats_gen", "mcv", "mcv_bounded", "manifest", "compactor")

  private def fieldNames(json: String): Seq[String] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      .fieldNames().asScala.toSeq

  /** A seam that lands three rows and runs `body`; its count is 7. */
  private def fake(key: String)(body: StreamBench.Ctx => Boolean): Seam[Unit] = {
    val s = spark
    import s.implicits._
    Seam(key, "v long") { c => c.land(Seq(1L, 2L, 3L).toDF("v")) } { (c, _) => body(c) } { (_, _) => 7L }
  }

  private def neverEnding(c: StreamBench.Ctx, name: String) =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream.format("noop").option("checkpointLocation", s"${c.root}/$name").start()

  test("JSON: today's 31 keys in order, -1 markers, fixed bytes") {
    val table = StreamBench.seams(spark, sf)
    assert(table.map(_.key) === "signing" +: keys)
    val full = Combined(table.map(s =>
      s.key -> Some(SeamResult(100.0, 10L, 9L, 0.1, s.countKey))))
    assert(fieldNames(full.json) ===
      Seq("records_per_sec", "records", "signed", "seconds") ++ keys)
    assert(full.headlineRate === 100.0)

    val r = SeamResult(1234.56, 5000L, 4590L, 3.4567)
    assert(r.json === """{"records_per_sec":1234.6,"records":5000,"clean":4590,"seconds":3.457}""")
    assert(r.copy(countKey = "signed").json ===
      """{"records_per_sec":1234.6,"records":5000,"signed":4590,"seconds":3.457}""")
    // timed out: rate and count -1, records and seconds kept
    assert(SeamResult(-1.0, 7L, -1L, 2.5).json ===
      """{"records_per_sec":-1.0,"records":7,"clean":-1,"seconds":2.500}""")
    // degenerate clocks never print Infinity/NaN
    assert(SeamResult(Double.PositiveInfinity, 7L, 7L, 0.0).json ===
      """{"records_per_sec":-1.0,"records":7,"clean":7,"seconds":0.000}""")
    assert(SeamResult(Double.NaN, 7L, 7L, Double.NaN).json ===
      """{"records_per_sec":-1.0,"records":7,"clean":7,"seconds":-1.000}""")

    val mixed = Combined(Seq(
      "signing" -> None,
      "dedup" -> Some(SeamResult(1445.04, 5000L, 4590L, 3.46)),
      "decontam" -> None))
    assert(mixed.json === """{"records_per_sec":-1,""" +
      """"dedup":{"records_per_sec":1445.0,"records":5000,"clean":4590,"seconds":3.460},""" +
      """"decontam":{"records_per_sec":-1}}""")
    assert(mixed.headlineRate === -1.0)
    assert(Combined(Seq("signing" -> Some(SeamResult(-1.0, 7L, -1L, 2.5, "signed"))))
      .json === """{"records_per_sec":-1.0,"records":7,"signed":-1,"seconds":2.500}""")
  }

  test("timeout: a never-ending seam returns the -1 marker and leaves no query running") {
    val out = StreamBench.run(spark, sf, Seq(fake("spec_never")(c =>
      c.await(neverEnding(c, "ckpt")))), None, timeoutMs = 2000)
    val Seq(("spec_never", Some(r))) = out.results
    assert(r.recordsPerSec === -1.0 && r.clean === -1L && r.records === 3L)
    assert(r.seconds >= 2.0)
    assert(spark.streams.active.isEmpty)
  }

  test("timeout: a two-query body stops its second query too") {
    var first = false
    val out = StreamBench.run(spark, sf, Seq(fake("spec_two")(c => {
      first = c.await(c.stream().writeStream.format("noop")
        .option("checkpointLocation", s"${c.root}/ckpt0")
        .trigger(Trigger.AvailableNow()).start())
      first && c.await(neverEnding(c, "ckpt1"))
    })), None, timeoutMs = 2000)
    assert(first, "the finite first query should finish inside the timeout")
    assert(out.results.head._2.map(_.clean) === Some(-1L))
    assert(spark.streams.active.isEmpty)
  }

  test("timeout: the sessions seam stops its query when it times out") {
    val sessions = StreamBench.seams(spark, sf).filter(_.key == "sessions")
    val out = StreamBench.run(spark, sf, sessions, None, timeoutMs = 1)
    assert(out.results.head._2.map(r => (r.recordsPerSec, r.clean)) === Some((-1.0, -1L)))
    assert(spark.streams.active.isEmpty)
  }

  test("isolation: a throwing seam yields its marker and the next seam runs; the tag filter skips staging") {
    var staged = Set.empty[String]
    val s = spark
    import s.implicits._
    def tracked(key: String): Seam[Unit] =
      Seam(key, "v long") { c => staged += key; c.land(Seq(1L).toDF("v")) } {
        (_, _) => true } { (_, _) => 1L }
    val boom = Seam[Unit]("spec_boom", "v long") { _ => throw new IllegalStateException("boom") } {
      (_, _) => true } { (_, _) => 1L }
    val out = StreamBench.run(spark, sf, Seq(boom, tracked("spec_after")), None)
    assert(out.results.map(_._1) === Seq("spec_boom", "spec_after"))
    assert(out.results.head._2 === None)
    assert(out.results(1)._2.map(r => (r.records, r.clean)) === Some((1L, 1L)))
    assert(out.json.startsWith("""{"records_per_sec":-1,"spec_after":{"records_per_sec":"""))

    staged = Set.empty
    val filtered = StreamBench.run(spark, sf,
      Seq(tracked("spec_left_out"), tracked("spec_kept")), Some(Set("speckept")))
    assert(staged === Set("spec_kept"))
    assert(filtered.results.map { case (k, r) => k -> r.isDefined } ===
      Seq("spec_left_out" -> false, "spec_kept" -> true))
  }

  test("smoke: every real seam at sf0.001 reproduces the recorded records and counts") {
    val expected = Map(
      "signing" -> (1000L, 100L), "dedup" -> (500L, 460L),
      "decontam" -> (500L, 486L), "ann_refresh" -> (500L, 500L),
      "merge" -> (1000L, 15L), "histogram" -> (500L, 500L),
      "chunking" -> (500L, 500L), "card" -> (500L, 500L),
      "sketch" -> (500L, 27939L), "drift" -> (500L, 500L),
      "exact_decontam" -> (494L, 492L), "shards" -> (500L, 500L),
      "quality_gate" -> (500L, 247L), "serve" -> (500L, 1500L),
      "encode" -> (500L, 500L), "sessions" -> (1000L, 946L),
      "window_dedup" -> (500L, 500L), "sample" -> (500L, 64L),
      "anomaly_gate" -> (1000L, 921L), "container_gate" -> (2500L, 1903L),
      "labels" -> (2240L, 3600L), "stats" -> (6000L, 6000L),
      "ndv" -> (6000L, 1473L), "stats_gen" -> (7754L, 7754L),
      "mcv" -> (500L, 500L), "mcv_bounded" -> (1500L, 1500L),
      "manifest" -> (6000L, 6000L), "compactor" -> (6000L, 6000L))
    val out = StreamBench.run(spark, sf, StreamBench.seams(spark, sf), None)
    val got = out.results.map { case (k, r) => k -> r.map(x => (x.records, x.clean)) }
    assert(got === ("signing" +: keys).map(k => k -> Some(expected(k))))
    assert(out.results.forall(_._2.exists(_.recordsPerSec > 0)))
    assert(spark.streams.active.isEmpty)
  }
}
