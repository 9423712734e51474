package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.Curation

/** S18 streaming shard router: membership is the literal q142 expressions,
  * positions are batch-local and gap-free, replays land identical files,
  * and the single-shard loader view prunes to its own directories.
  */
class ShardStreamSpec extends SparkSpec {

  test("membership parity with q142, batch-local positions, cross-restart accumulation") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val root = Files.createTempDirectory("graft-shard-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    // batch 0: the whole fixture corpus streamed in one batch — (shard,
    // pos) must then equal q142's global answer exactly
    graft.Tables(s, sf, "documents").select($"doc_id", $"text")
      .write.mode("append").parquet(incoming)
    val q0 = ShardStream.run(
      s.readStream.schema("doc_id long, text string").parquet(incoming), root)
    assert(q0.awaitTermination(120000))

    val routed = s.read.parquet(s"$root/shards")
    val got = routed.select($"shard".cast("long"), $"pos", $"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val batch = Curation.q142TrainingShards(s, sf)
      .select($"shard", $"pos", $"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq === batch.toSeq, "single-batch stream ≠ q142")

    // batch 1, restarted stream: three more docs — batch-LOCAL positions
    // restart from 1 within each shard; earlier batches untouched
    Seq((100001L, "late arriving document one"),
        (100002L, "late arriving document two"),
        (100003L, "late arriving document three"))
      .toDF("doc_id", "text").write.mode("append").parquet(incoming)
    val q1 = ShardStream.run(
      s.readStream.schema("doc_id long, text string").parquet(incoming), root)
    assert(q1.awaitTermination(120000))

    val all = s.read.parquet(s"$root/shards")
    assert(all.count() === batch.length + 3L)
    // every (batch, shard) position run is contiguous 1..n
    all.select($"batch".cast("long"), $"shard".cast("long"), $"pos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .groupBy(_._1).foreach { case (bs, rows) =>
        assert(rows.map(_._2).sorted.toSeq === (1L to rows.length.toLong).toSeq,
          s"positions not contiguous in $bs")
      }
    // late docs routed by the same shared expressions
    all.filter($"doc_id" > 100000L)
      .select($"doc_id", $"shard".cast("long")).collect()
      .foreach { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(r.getLong(0).toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(r.getLong(1) === graft.functions.Djb2.hash(md) % 64)
      }

    // replay batch 1: identical routing from the pure function
    val replay = ShardStream.route(
      Seq((100001L, "late arriving document one"),
          (100002L, "late arriving document two"),
          (100003L, "late arriving document three")).toDF("doc_id", "text"))
      .select($"shard", $"pos", $"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val stored = all.filter($"doc_id" > 100000L)
      .select($"shard".cast("long"), $"pos", $"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(replay.toSeq === stored.toSeq)

    // the loader view: one shard only, deterministic (batch, pos) order,
    // and the scan prunes to that shard's directories
    val someShard = batch.head._1
    val view = ShardStream.loadShard(root, someShard)
    val rows = view
      .select($"shard".cast("long"), $"batch".cast("long"), $"pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall(_._1 == someShard))
    assert(rows.map(r => (r._2, r._3)).toSeq ===
      rows.map(r => (r._2, r._3)).sortBy(identity).toSeq)
    val scan = view.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("shard#"),
      s"shard filter did not reach the scan:\n$scan")
  }
}
