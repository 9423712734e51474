package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** S10 streaming vector-index refresh: map-side cell assignment against the
  * corpus-trained quantizer, cell-partitioned idempotent appends, pruned
  * probes that see fresh vectors immediately.
  */
class VectorIndexStreamSpec extends SparkSpec {

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  /** Corpus dir whose label-grouped centroids are the axes: label 0 ≈ e1,
    * label 1 ≈ e2. */
  private def writeCorpus(): String = {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-vxc-").toString
    Seq(
      (100L, vec(1, 0, 0, 0), 0), (101L, vec(0.9, 0.1, 0, 0), 0),
      (102L, vec(0, 1, 0, 0), 1), (103L, vec(0.1, 0.9, 0, 0), 1),
    ).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$root/embeddings.parquet")
    root
  }

  test("batches land cell-partitioned; replay idempotent; probe prunes and sees fresh vectors") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val corpusDir = writeCorpus()
    val root = Files.createTempDirectory("graft-vx-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    // batch 0: one vector near e1, one near e2
    Seq((1L, vec(0.95, 0.05, 0, 0)), (2L, vec(0.05, 0.95, 0, 0)))
      .toDF("vec_id", "embedding")
      .write.mode("append").parquet(incoming)
    val q0 = VectorIndexStream.run(
      s.readStream.schema("vec_id long, embedding array<float>").parquet(incoming),
      corpusDir, root)
    assert(q0.awaitTermination(120000))

    val idx0 = s.read.parquet(s"$root/index")
    assert(idx0.count() === 2)
    // assignments match the e1/e2 cells
    val cellsById = idx0.select($"vec_id", $"cell".cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cellsById(1L) === 0L)
    assert(cellsById(2L) === 1L)

    // batch 1 (restarted stream, same checkpoint): a fresh e1-ish vector
    Seq((3L, vec(0.92, 0.02, 0, 0))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(incoming)
    val q1 = VectorIndexStream.run(
      s.readStream.schema("vec_id long, embedding array<float>").parquet(incoming),
      corpusDir, root)
    assert(q1.awaitTermination(120000))
    assert(s.read.parquet(s"$root/index").count() === 3)

    // at-least-once replay of batch 0 (same batchId): the rewrite must
    // overwrite its own partition with identical rows, never double-count
    val (cells, cents) = graft.ops.Similarity.ivfCentroidMeta(s, corpusDir)
    VectorIndexStream.writeBatch(
      Seq((1L, vec(0.95, 0.05, 0, 0)), (2L, vec(0.05, 0.95, 0, 0)))
        .toDF("vec_id", "embedding"),
      0L, root, cells, cents)
    val replayed = s.read.parquet(s"$root/index")
    assert(replayed.count() === 3, "replay must overwrite, not double-count")
    val replayCells = replayed.select($"vec_id", $"cell".cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayCells === Map(1L -> 0L, 2L -> 1L, 3L -> 0L))

    // probe near e1: sees the FRESH vectors (1 and 3), pruned to the e1 cell
    val probe = VectorIndexStream.probe(s, root, corpusDir,
      vec(1, 0, 0, 0), k = 2, nprobe = 1)
    val got = probe.collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L), s"probe should return fresh e1 vectors, got $got")
    // and the scan is partition-pruned on cell
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      "probe must prune cell partitions at the scan")
  }

  test("retrain: Lloyd-step rebuild commits atomically; probes see a " +
      "consistent generation before, during, and after the swap") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val corpusDir = writeCorpus()
    val root = Files.createTempDirectory("graft-vxr-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()
    // index four vectors: two e1-ish, two e2-ish (one of each drifted)
    Seq((1L, vec(0.95, 0.05, 0, 0)), (2L, vec(0.05, 0.95, 0, 0)),
      (3L, vec(0.80, 0.20, 0, 0)), (4L, vec(0.20, 0.80, 0, 0)))
      .toDF("vec_id", "embedding")
      .write.mode("append").parquet(incoming)
    val q0 = VectorIndexStream.run(
      s.readStream.schema("vec_id long, embedding array<float>").parquet(incoming),
      corpusDir, root)
    assert(q0.awaitTermination(120000))

    def probeIds() = VectorIndexStream.probe(s, root, corpusDir,
      vec(1, 0, 0, 0), k = 2, nprobe = 1).collect().map(_.getLong(0)).toSet
    val before = probeIds()
    assert(before === Set(1L, 3L), s"pre-retrain probe wrong: $before")

    // stage the next generation WITHOUT committing: probes must still
    // resolve the old generation — the mid-swap consistency window
    val next = VectorIndexStream.buildNextGen(s, root, corpusDir)
    assert(next === Some("index-g1"))
    assert(VectorIndexStream.currentGen(s, root) === "index",
      "uncommitted rebuild must not change the live generation")
    assert(probeIds() === before,
      "probe during the swap must still serve the old generation")

    VectorIndexStream.commitGen(s, root, next.get)
    assert(VectorIndexStream.currentGen(s, root) === "index-g1")
    // same four vectors searchable, compacted into batch=-1, with the
    // generation's own (retrained) centroids driving the probe
    val gen1 = s.read.parquet(s"$root/index-g1")
    assert(gen1.count() === 4L, "rebuild must carry every indexed vector")
    assert(probeIds() === Set(1L, 3L), s"post-swap probe wrong")
    assert(new java.io.File(s"$root/index-g1/_centroids").exists())

    // a second full retrain cycle (the public wrapper): generation
    // advances, the old directory is dropped, data survives
    VectorIndexStream.retrain(s, root, corpusDir)
    assert(VectorIndexStream.currentGen(s, root) === "index-g2")
    assert(!new java.io.File(s"$root/index-g1").exists(),
      "retrain must drop the superseded generation")
    assert(s.read.parquet(s"$root/index-g2").count() === 4L)
    assert(probeIds() === Set(1L, 3L))
  }
}
