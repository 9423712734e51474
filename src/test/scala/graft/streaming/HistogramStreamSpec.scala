package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** S12 streaming histogram maintenance: per-batch partials merge by sum,
  * the probe shares q106's extraction, and replay lands identical partials.
  */
class HistogramStreamSpec extends SparkSpec {

  private def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")

  test("batch partials merge to the corpus histogram; quantiles hand-check; replay pure") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-hs-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    // batch 0: 10-token and 40-token docs → buckets 0 and 1
    Seq((1L, doc(10)), (2L, doc(40))).toDF("doc_id", "text")
      .write.mode("append").parquet(incoming)
    val q0 = HistogramStream.run(
      s.readStream.schema("doc_id long, text string").parquet(incoming), root)
    assert(q0.awaitTermination(120000))

    // batch 1, restarted stream: 70-token (bucket 2) and 10-token (bucket 0)
    Seq((3L, doc(70)), (4L, doc(10))).toDF("doc_id", "text")
      .write.mode("append").parquet(incoming)
    val q1 = HistogramStream.run(
      s.readStream.schema("doc_id long, text string").parquet(incoming), root)
    assert(q1.awaitTermination(120000))

    // merged histogram = sum of the two partials = corpus histogram
    val merged = HistogramStream.mergedHistogram(s, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === Map(0L -> 2L, 1L -> 1L, 2L -> 1L))

    // probe quantiles over N=4: p50 → bucket 0 (cum 2, 200 ≥ 200),
    // p90 → bucket 2 (cum 4, 400 ≥ 360), p99 → bucket 2 (400 ≥ 396)
    val qs = HistogramStream.quantiles(s, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(qs === Seq(
      (50L, 0L, 32L, 2L, 4L),
      (90L, 2L, 96L, 4L, 4L),
      (99L, 2L, 96L, 4L, 4L)))

    // replay purity: re-deriving batch 0's partial equals the stored one
    val b0 = Seq((1L, doc(10)), (2L, doc(40))).toDF("doc_id", "text")
    val replay = graft.ops.TextAnalysis.lengthHistogram(b0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stored = s.read.parquet(s"$root/hist/batch=0").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replay === stored)
    assert(stored === Map(0L -> 1L, 1L -> 1L))
  }
}
