package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** S15 streaming heavy-hitter maintenance: per-batch CM partials merge by
  * cell addition, the probe shares q97's read path, replay lands identical
  * partials, and the merged sketch equals the batch-mode sketch over the
  * whole corpus (shared code path).
  */
class SketchStreamSpec extends SparkSpec {

  test("CM partials merge to the corpus sketch; probes exact sans collisions; replay pure") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cms-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    // batch 0: token counts a=2, b=1, c=1
    Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
      .write.mode("append").parquet(incoming)
    val q0 = SketchStream.run(
      s.readStream.schema("doc_id long, text string").parquet(incoming), root)
    assert(q0.awaitTermination(120000))

    // batch 1, restarted stream: a=1, b=2, d=3
    Seq((3L, "a b b"), (4L, "d d d")).toDF("doc_id", "text")
      .write.mode("append").parquet(incoming)
    val q1 = SketchStream.run(
      s.readStream.schema("doc_id long, text string").parquet(incoming), root)
    assert(q1.awaitTermination(120000))

    def cells(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    // merged sketch = the batch-mode sketch over the union of all docs —
    // the SAME cmSketch function, so this is the three-mode identity
    val merged = cells(SketchStream.mergedSketch(s, root))
    val rescan = cells(graft.ops.TextAnalysis.cmSketch(
      Seq((1L, "a a b"), (2L, "c"), (3L, "a b b"), (4L, "d d d"))
        .toDF("doc_id", "text")))
    assert(merged === rescan)

    // 4 distinct tokens × 3 depths land in 12 distinct cells (no
    // collisions on this fixture), so every estimate is EXACT — the
    // one-sided ≥ contract with zero slack
    assert(merged.size === 12)
    val est = SketchStream.estimate(s, root,
        Seq("a", "b", "c", "d", "zzz").toDF("tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "d" -> 3L))
    // the unseen term has no populated cell → no row (absent = 0)
    assert(!est.contains("zzz"))

    // replay purity: re-deriving batch 0's partial equals the stored one
    val replay = cells(graft.ops.TextAnalysis.cmSketch(
      Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")))
    val stored = cells(s.read.parquet(s"$root/sketch/batch=0"))
    assert(replay === stored)
  }
}
