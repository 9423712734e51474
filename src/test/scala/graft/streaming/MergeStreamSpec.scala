package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** S11 streaming MERGE: per-batch upsert with real update semantics, a
  * pinned per-batch merge delta, and replay that neither double-applies
  * nor rewrites history.
  */
class MergeStreamSpec extends SparkSpec {

  test("batches merge with last-wins dedup; audit pins decisions; " +
      "cross-restart replay does not double-apply") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val root = Files.createTempDirectory("graft-ms-").toString
    val target = s"$root/table"
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    def readTable() = s.read.parquet(target)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    def readAudit(batch: Long) = s.read.parquet(s"$root/audit/batch=$batch")
      .select($"k", $"action", $"new_values.v")
      .as[(Long, String, String)].collect().toSet

    // batch 0: two inserts
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "seq")
      .write.mode("append").parquet(incoming)
    val q0 = MergeStream.run(
      s.readStream.schema("k long, v string, seq long").parquet(incoming),
      target, root)
    assert(q0.awaitTermination(120000))
    assert(readTable() === Map(1L -> "a", 2L -> "b"))
    assert(readAudit(0) === Set((1L, "insert", "a"), (2L, "insert", "b")))

    // batch 1 (new file, restarted stream): an update of k=1, and k=3
    // appearing twice in one batch — the seq=2 version must win
    Seq((1L, "c", 2L), (3L, "d", 1L), (3L, "dd", 2L)).toDF("k", "v", "seq")
      .write.mode("append").parquet(incoming)
    val q1 = MergeStream.run(
      s.readStream.schema("k long, v string, seq long").parquet(incoming),
      target, root)
    assert(q1.awaitTermination(120000))
    assert(readTable() === Map(1L -> "c", 2L -> "b", 3L -> "dd"))
    assert(readAudit(1) === Set((1L, "update", "c"), (3L, "insert", "dd")))
    // the update carries its before-image
    val oldV = s.read.parquet(s"$root/audit/batch=1")
      .filter($"action" === "update").select($"old_values.v")
      .as[String].collect().toSeq
    assert(oldV === Seq("a"), s"update must carry the pre-merge value: $oldV")

    // replay batch 1 against the ALREADY-MERGED table (the at-least-once
    // crash window): decisions must come from the pinned audit, the apply
    // must not duplicate rows or change values
    MergeStream.mergeBatch(s,
      Seq((1L, "c", 2L), (3L, "d", 1L), (3L, "dd", 2L)).toDF("k", "v", "seq"),
      target, s"$root/audit", "k", "seq", 16, 1L)
    assert(readTable() === Map(1L -> "c", 2L -> "b", 3L -> "dd"),
      "replayed apply must be a no-op on the merged table")
    assert(readAudit(1) === Set((1L, "update", "c"), (3L, "insert", "dd")),
      "replay must reuse the pinned delta, not re-decide (k=3 would " +
        "otherwise flip to update)")
    val nRows = s.read.parquet(target).count()
    assert(nRows === 3L, s"double-apply detected: $nRows rows")
  }
}
