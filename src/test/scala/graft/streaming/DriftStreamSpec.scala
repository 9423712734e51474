package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** S16 streaming drift: per-source partials merge across batches and
  * restarts, the probe is q122's exact TV arithmetic (hand-worked here),
  * absent sources read total drift, and replay lands identical partials.
  */
class DriftStreamSpec extends SparkSpec {

  private def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")

  test("partials merge per source; TV vs reference hand-checks; absent source drifts 1.0") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-ds-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    // batch 0: source a, one 10-token doc (bucket 0)
    Seq(("a", doc(10))).toDF("source", "text")
      .write.mode("append").parquet(incoming)
    val q0 = DriftStream.run(
      s.readStream.schema("source string, text string").parquet(incoming), root)
    assert(q0.awaitTermination(120000))

    // batch 1, restarted stream: a second 10-token doc for a, and a new
    // source b the reference has never seen
    Seq(("a", doc(10)), ("b", doc(70))).toDF("source", "text")
      .write.mode("append").parquet(incoming)
    val q1 = DriftStream.run(
      s.readStream.schema("source string, text string").parquet(incoming), root)
    assert(q1.awaitTermination(120000))

    // standing state: a → bucket 0 ×2; b → bucket 2 ×1
    val merged = DriftStream.mergedHistogram(s, root).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged === Map(("a", 0L) -> 2L, ("b", 2L) -> 1L))

    // reference profile for a: one bucket-0 doc and one bucket-1 doc.
    // TV(a) = Σ|c1·n2 − c2·n1| / (2·n1·n2)
    //       = (|1·2 − 2·2| + |1·2 − 0·2|) / (2·2·2) = 4/8 = 0.5;
    // source b absent from the reference → tv = 1 by definition
    val ref = Seq(("a", 0L, 1L), ("a", 1L, 1L)).toDF("source", "bucket", "c")
    val tv = DriftStream.drift(s, root, ref).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(tv("a") === ((2L, 2L, 4L, 0.5)))
    assert(tv("b")._4 === 1.0)
    assert(tv("b")._1 === 0L) // no reference docs

    // an identical reference reads zero drift — the gate is quiet when
    // nothing moved
    val same = Seq(("a", 0L, 2L), ("b", 2L, 1L)).toDF("source", "bucket", "c")
    DriftStream.drift(s, root, same).collect().foreach { r =>
      assert(r.getLong(3) === 0L); assert(r.getDouble(4) === 0.0)
    }

    // replay purity: re-deriving batch 0's partial equals the stored one
    val b0 = Seq(("a", doc(10))).toDF("source", "text")
    val replay = graft.ops.TextAnalysis.lengthHistogramBy(b0, "source").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val stored = s.read.parquet(s"$root/hist/batch=0").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(replay === stored)
    assert(stored === Map(("a", 0L) -> 1L))
  }

  test("zero-batch seam accounting: a missing hist/ dir is measured empty, not thrown") {
    val s = spark
    // VERDICT r10 #5: an empty stream leaves no hist/ directory; the
    // accounting must return an explicit zero-row seam result instead of
    // letting the parquet read throw and losing the measurement.
    val root = java.nio.file.Files.createTempDirectory("graft-drift0-").toString
    val r = graft.StreamBench.driftAccount(s, root, sf, 0L, 1.5)
    assert(r.recordsPerSec === 0.0)
    assert(r.records === 0L)
    assert(r.clean === 0L)
    assert(r.seconds === 1.5)
    // secs = 0 (a degenerate clock) must not divide by zero either
    val r0 = graft.StreamBench.driftAccount(s, root, sf, 7L, 0.0)
    assert(r0.recordsPerSec === 0.0 && r0.clean === 0L)
  }
}
