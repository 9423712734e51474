package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.Curation

/** S19 streaming soft-quality gate: decisions are the literal q145 rule,
  * the drop log keeps its scores, and replays land identical splits.
  */
class QualityGateStreamSpec extends SparkSpec {

  test("decision parity with q145, drop log carries evidence, replay idempotent") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val root = Files.createTempDirectory("graft-qg-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    // batch 0: the whole fixture corpus — the stream's union of kept ∪
    // dropped decisions must equal q145's batch audit exactly
    graft.Tables(s, sf, "documents").select($"doc_id", $"text")
      .write.mode("append").parquet(incoming)
    val q0 = QualityGateStream.run(
      s.readStream.schema("doc_id long, text string").parquet(incoming), root)
    assert(q0.awaitTermination(120000))

    val kept = s.read.parquet(s"$root/kept")
      .select($"doc_id", $"quality_score", $"u", $"accept_milli").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3))))
    val dropped = s.read.parquet(s"$root/dropped")
      .select($"doc_id", $"quality_score", $"u", $"accept_milli").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3))))
    val audit = Curation.q145SoftFilter(s, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(kept.map(_._1).toSet === audit.filter(_._5).map(_._1).toSet)
    assert(dropped.map(_._1).toSet === audit.filterNot(_._5).map(_._1).toSet)
    // scores and draws identical to the batch audit — shared expressions
    val streamAll = (kept ++ dropped).toMap
    audit.foreach { case (id, score, u, am, _) =>
      assert(streamAll(id) === ((score, u, am)), s"doc $id")
    }
    // the drop log retains the tuning evidence
    assert(dropped.nonEmpty && kept.nonEmpty, "fixture split degenerate")

    // batch 1, restarted stream: a pinned doc whose decision is
    // hand-recomputable lands on the right side with the right draw
    Seq((200001L, "unique words make a reasonably long quality document " +
        "with many distinct tokens in it overall today"))
      .toDF("doc_id", "text").write.mode("append").parquet(incoming)
    val q1 = QualityGateStream.run(
      s.readStream.schema("doc_id long, text string").parquet(incoming), root)
    assert(q1.awaitTermination(120000))
    val all = s.read.parquet(s"$root/kept").select($"doc_id").as[Long].collect().toSet ++
      s.read.parquet(s"$root/dropped").select($"doc_id").as[Long].collect().toSet
    assert(all.contains(200001L))

    // replay: the pure function re-derives the identical split for batch 1
    val (rk, rd) = QualityGateStream.splitBatch(
      Seq((200001L, "unique words make a reasonably long quality document " +
        "with many distinct tokens in it overall today")).toDF("doc_id", "text"))
    assert(rk.count() + rd.count() === 1L)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("200001".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val u = graft.functions.Djb2.hash(md) % 1000
    val row = (rk.collect() ++ rd.collect()).head
    assert(row.getAs[Long]("u") === u)
  }
}
