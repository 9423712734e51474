package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Dedup

/** S27 streaming label maintenance: labels after N batches equal the q60
  * rescan regardless of batching, versions are monotone artifacts, and a
  * replayed merge is deterministic.
  */
class LabelStreamSpec extends SparkSpec {

  test("batched merges converge to the rescan labels; batching is " +
      "irrelevant; a later batch merges across versions") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val root = Files.createTempDirectory("graft-ls-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    // the real pair graph, split into three deterministic chunks — CC
    // merging is order-independent, so ANY batching must converge to the
    // same labels
    val pairs = graft.ops.Dedup.q51NgramJaccard(s, sf)
      .select($"doc_a", $"doc_b")
    for (chunk <- 0 to 2) {
      pairs.filter(pmod($"doc_a", lit(3)) === chunk)
        .write.mode("append").parquet(incoming)
    }
    val q0 = LabelStream.run(
      s.readStream.schema("doc_a long, doc_b long")
        .option("maxFilesPerTrigger", 2).parquet(incoming), root)
    assert(q0.awaitTermination(180000))

    val got = LabelStream.currentLabels(s, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = Dedup.q60DupClusters(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === truth, "streamed labels diverge from the q60 rescan")
    // more than one version: the stream really did merge incrementally
    assert(LabelStream.latestVersionBelow(s, root, Long.MaxValue).exists(_ >= 1))
    // compaction: never more than KeepVersions committed versions on disk
    assert(LabelStream.versions(s, root).size <= LabelStream.KeepVersions)

    // a later batch bridging two standing components must merge them
    val clusters = truth.values.toSet.toSeq.sorted
    assume(clusters.size >= 2)
    val (c1, c2) = (clusters.head, clusters(1))
    Seq((c1, c2)).toDF("doc_a", "doc_b")
      .write.mode("append").parquet(incoming)
    val q1 = LabelStream.run(
      s.readStream.schema("doc_a long, doc_b long")
        .option("maxFilesPerTrigger", 2).parquet(incoming), root)
    assert(q1.awaitTermination(180000))
    val after = LabelStream.currentLabels(s, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mergedLabel = math.min(c1, c2)
    truth.foreach { case (id, c) =>
      val expect = if (c == c1 || c == c2) mergedLabel else c
      assert(after(id) === expect, s"doc $id after bridge merge")
    }

    // a no-op batch — an edge strictly inside one standing component —
    // must neither rewrite the label table nor commit a new version
    val versionsBefore = LabelStream.versions(s, root).toSet
    val inside = after.toSeq.groupBy(_._2).values.find(_.size >= 2).get
      .map(_._1).take(2)
    Seq((inside.head, inside.last)).toDF("doc_a", "doc_b")
      .write.mode("append").parquet(incoming)
    val q2 = LabelStream.run(
      s.readStream.schema("doc_a long, doc_b long")
        .option("maxFilesPerTrigger", 2).parquet(incoming), root)
    assert(q2.awaitTermination(180000))
    assert(LabelStream.versions(s, root).toSet === versionsBefore,
      "a no-op merge must skip the version commit")
    val afterNoop = LabelStream.currentLabels(s, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterNoop === after)
  }

  test("a non-local filesystem scheme fails fast instead of silently " +
      "resetting the label base (the java.io.File trap)") {
    val s = spark
    val e = intercept[Exception] {
      LabelStream.currentLabels(s, "graft-no-such-scheme://bucket/labels")
    }
    assert(e.getMessage != null)
  }

  test("a torn label version (no _SUCCESS) is not committed: readers " +
      "keep the last committed version") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-ls-torn-").toString
    Seq((1L, 1L)).toDF("doc_id", "cluster")
      .write.parquet(s"$root/labels/v=0")
    Seq((9L, 9L)).toDF("doc_id", "cluster")
      .write.parquet(s"$root/labels/v=5")
    assert(new java.io.File(s"$root/labels/v=5/_SUCCESS").delete())
    assert(LabelStream.versions(s, root) === Seq(0L))
    assert(LabelStream.latestVersionBelow(s, root, 6L) === Some(0L))
    assert(LabelStream.currentLabels(s, root).select($"doc_id")
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("merge core is deterministic: replaying the same merge rewrites " +
      "identical labels") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, 1L), (2L, 1L), (10L, 10L)).toDF("doc_id", "cluster")
    val delta = Seq((2L, 10L), (20L, 21L)).toDF("doc_a", "doc_b")
    val first = Dedup.mergeLabels(base, delta)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val second = Dedup.mergeLabels(base, delta)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first === second)
    // the bridge 2-10 merges components 1 and 10; 20-21 is a new island
    assert(first === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 20L -> 20L, 21L -> 20L))
  }
}
