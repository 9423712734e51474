package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextAnalysis

/** S13 — streaming retrieval ingest: q109's RAG chunking as a Structured
  * Streaming stage, so documents become searchable chunks one micro-batch
  * after they arrive instead of waiting for the next corpus-wide rebuild.
  * Each batch runs the SAME chunker as the batch query
  * ([[graft.ops.TextAnalysis.chunkDocs]] — shared code path, the S12
  * discipline, so streaming and batch chunk geometry cannot drift) and
  * lands its chunks as its own parquet partition of the standing chunk
  * index.
  *
  * Idempotency protocol (S8/S9/S12): a batch's chunk set is a pure
  * function of the batch — no standing state feeds the decision — so the
  * per-batch OVERWRITE into `chunks/batch=<id>` makes an at-least-once
  * replay land byte-identical rows and the merged index exactly-once-
  * effective. A restarted stream resumes from the checkpoint and appends
  * new batch partitions; no partition is ever rewritten by a different
  * batch.
  *
  * At 100 TB/day the per-batch plan is map-only (explode of int64 chunk
  * starts, one ≤ 64-token slice + sha2 per output row, amplification
  * bounded at W/S = 4/3) — there is NO shuffle in the trigger path at all;
  * the seam's throughput is the scan+write rate. The provenance probe
  * ([[lookup]]) is a filter on the fixed-width index (doc_id, chunk_idx,
  * n_tokens, chunk_sha256 — never text), the exact-match side of the
  * retrieval stack (q94/q102 rank over it; q50-family dedup can read the
  * same hashes). Compaction of old batch partitions is the q103 OPTIMIZE
  * verb applied to the index directory.
  */
object ChunkStream {

  /** The per-trigger body, factored so a replay can be exercised directly
    * in specs: chunk the batch and overwrite its own index partition. */
  private[streaming] def writeBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    BatchSink.write(root, batchId, "chunks" -> TextAnalysis.chunkDocs(batch))

  /** Streaming driver. `docs` must carry (doc_id long, text string). */
  def run(docs: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(docs, root, trigger)(writeBatch(_, root, _))

  /** The standing chunk index across every landed batch. `batch` arrives
    * as the inferred partition column on read. */
  def mergedChunks(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/chunks")

  /** Provenance / exact-match probe: every (doc, chunk) whose content
    * hashes to `sha256hex` — a codegen'd filter over the fixed-width
    * index, partition-prunable by batch if the caller narrows first. */
  def lookup(s: SparkSession, root: String, sha256hex: String): DataFrame = {
    import s.implicits._
    mergedChunks(s, root)
      .filter($"chunk_sha256" === sha256hex)
      .select($"doc_id", $"chunk_idx", $"n_tokens",
        $"batch".cast("long").as("batch"))
  }
}
