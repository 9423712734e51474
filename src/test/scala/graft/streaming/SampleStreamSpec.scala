package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.Curation

/** S24 streaming weighted reservoir: mergeable per-shard top-k state,
  * congruent with batch q170, replay-safe fold.
  */
class SampleStreamSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq

  test("streamed reservoir equals batch q170 after a multi-batch replay") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val root = Files.createTempDirectory("graft-sample-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()
    val docs = graft.Tables(s, sf, "documents").select($"doc_id", $"text")
    val schema = "doc_id long, text string"
    // three micro-batches carve the corpus by doc_id — the reservoir
    // must converge to the batch sample regardless of arrival order
    Seq($"doc_id" % 3 === 2, $"doc_id" % 3 === 0, $"doc_id" % 3 === 1)
      .foreach { carve =>
        docs.filter(carve).write.mode("append").parquet(incoming)
        val q = SampleStream.run(
          s.readStream.schema(schema).parquet(incoming), root)
        assert(q.awaitTermination(120000))
      }
    val got = rows(SampleStream.sample(root))
    val want = rows(Curation.q170WeightedSample(s, sf))
    assert(got === want, "streamed reservoir diverged from batch q170")
    // state is bounded: every shard snapshot holds at most K rows
    val perShard = s.read.parquet(s"$root/reservoir")
      .groupBy($"shard").count().collect().map(_.getLong(1))
    assert(perShard.forall(_ <= SampleStream.ReservoirK.toLong))
  }

  test("the fold is idempotent and keeps the q170 comparator") {
    // replaying rows already in the reservoir must change nothing
    val c = (1 to 100).map(i =>
      SampleStream.Cand(0L, i.toLong, 10L, 100L, -i.toLong * 7))
    val first = SampleStream.fold(Seq.empty, c.iterator)
    assert(first.size === SampleStream.ReservoirK)
    // ordered by (key desc, doc asc): doc 1 has the largest key here
    assert(first.head._2 === 1L)
    assert(first === first.sortBy { case (k, d, _, _) => (k, d) }(
      Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long)))
    val replay = SampleStream.fold(first, c.iterator)
    assert(replay === first, "replaying seen docs mutated the reservoir")
    // a better newcomer displaces the tail, a worse one does not
    val better = SampleStream.Cand(0L, 999L, 10L, 100L, 0L)
    val withBetter = SampleStream.fold(first, Iterator(better))
    assert(withBetter.head._2 === 999L && withBetter.size === 64)
    val worse = SampleStream.Cand(0L, 998L, 10L, 100L, Long.MinValue)
    assert(SampleStream.fold(first, Iterator(worse)) === first)
  }
}
