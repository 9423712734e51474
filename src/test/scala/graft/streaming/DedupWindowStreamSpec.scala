package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** S23 watermark-bounded exact dedup: cross-batch suppression within the
  * window, watermark-driven state expiry, hash-keyed state.
  */
class DedupWindowStreamSpec extends SparkSpec {

  test("duplicates suppressed across batches within the window; expired keys re-emit") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val root = Files.createTempDirectory("graft-dwdedup-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()
    val schema = "doc_id long, text string, ts timestamp"
    val H = 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    def feed(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      rows.toDF("doc_id", "text", "ts")
        .write.mode("append").parquet(incoming)
      val q = DedupWindowStream.run(
        s.readStream.schema(schema).parquet(incoming), root)
      assert(q.awaitTermination(120000))
    }
    // batch 0: two distinct docs
    feed(Seq((1L, "alpha beta", ts(0)), (2L, "gamma delta", ts(1000))))
    // batch 1: an exact dup of doc 1 arriving 10 min later — WITHIN the
    // 30-min window, in a different micro-batch: state must suppress it;
    // plus a genuinely new doc
    feed(Seq((3L, "alpha beta", ts(600000)), (4L, "epsilon", ts(601000))))
    // batch 2: advance the watermark far past every key's expiry
    feed(Seq((5L, "zeta", ts(10 * H))))
    // batch 3: the same content again, 10h later — the key's state was
    // evicted by the watermark, so it re-emits (catching it now is the
    // standing-corpus S8 join's job, not the window state's)
    feed(Seq((6L, "alpha beta", ts(10 * H + 1000))))
    // flush nothing further — AvailableNow emits uniques per batch
    val kept = DedupWindowStream.uniques(root)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 4L, 5L, 6L),
      s"window dedup kept the wrong set: $kept")
    // state is keyed on the 64-byte hash, not the text
    val cols = s.read.parquet(s"$root/unique").columns.toSet
    assert(cols === Set("doc_id", "ts", "content_key"))
  }
}
