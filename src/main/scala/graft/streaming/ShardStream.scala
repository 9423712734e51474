package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Curation

/** S18 — streaming training-shard router: q142's deterministic shuffle
  * maintained ONLINE, so curated documents land loader-ready as they are
  * admitted instead of waiting for a nightly global re-shard. Each
  * micro-batch routes its documents to their shard with the LITERAL q142
  * expressions ([[Curation.shardKey]] md5 permutation +
  * [[Curation.shardOf]] djb2 router — shared code, membership cannot
  * drift between the batch query and this stream) and appends them
  * shard-partitioned under its own batch directory.
  *
  * Position semantics across time: a stream cannot assign q142's global
  * per-shard positions without cross-batch state (the count-so-far per
  * shard), and carrying that state would make replays order-dependent.
  * Instead positions are BATCH-LOCAL (row_number per (batch, shard) in
  * rand_key order) and the loader's iteration order is the lexicographic
  * (shard, batch_id, pos) — deterministic, gap-free within every batch,
  * and stable under replay because each batch's routing is a pure
  * function of the batch alone (the S9/S13 stateless contract: a
  * replayed batch overwrites its own `batch=<id>` partition with an
  * identical result). On a corpus replayed as one batch, (shard, pos)
  * equals q142 exactly.
  *
  * Scale shape per batch: key + shard are map-side codegen'd
  * projections; ONE exchange (hash on shard) feeds the per-shard
  * batch-local windows; the write is `partitionBy(shard)` under
  * `batch=<id>` — directory layout IS the loader's shard index, so a
  * single-shard consumer prunes to its own directories
  * (PartitionFilters), reading |corpus|/shards bytes, never the corpus.
  */
object ShardStream {

  /** Pure batch-side routing: (shard, pos, doc_id, rand_key) with
    * batch-local positions — q142's plan minus the global position
    * accumulation. `batch` must carry (doc_id long, text string); text is
    * carried through untouched (the shard files are the training input). */
  private[streaming] def route(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"shard").orderBy($"rand_key", $"doc_id")
    batch
      .withColumn("rand_key", Curation.shardKey($"doc_id"))
      .withColumn("shard", Curation.shardOf($"rand_key", Curation.NShards))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Streaming driver. `docs` must carry (doc_id long, text string). */
  def run(docs: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    BatchSink.start(docs, root, trigger) { (batch, batchId) =>
      // replay re-derives the identical routing (pure function of the
      // batch — no cross-batch state anywhere)
      val routed = route(batch).select(col("shard"), col("pos"),
        col("doc_id"), col("rand_key"), col("text"))
      BatchSink.write(root, batchId,
        BatchSink.Output("shards", routed, partitionBy = Some("shard")))
    }
  }

  /** The loader's view of ONE shard: its documents in the deterministic
    * training iteration order (batch, pos). The shard filter prunes at
    * the directory level (`shard=<k>` partition dirs), so a data-loader
    * worker reads only its own 1/NShards of the corpus. */
  def loadShard(root: String, shard: Long)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$root/shards")
      .filter($"shard" === shard)
      .orderBy($"batch", $"pos")
  }
}
