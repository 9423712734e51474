package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextAnalysis

/** S12 — streaming corpus-shape maintenance: q106's mergeable length
  * histogram kept current as documents arrive, so the pipeline's length
  * cutoffs (p50/p90/p99 gates) read fresh numbers without ever rescanning
  * the corpus. The mergeability that lets q106's partial aggregation BE
  * the sketch merge across tasks is exactly what makes the streaming twin
  * trivial across TIME: each micro-batch writes its own ≤ 256-row
  * histogram partition, and the standing answer is a sum over partitions
  * — no state store, no window, no rescan.
  *
  * Idempotency protocol (S8/S9): the per-batch histogram is a pure
  * function of the batch, overwritten into `hist/batch=<id>`, so an
  * at-least-once replay lands byte-identical partials and the merged view
  * is exactly-once-effective. A restarted stream resumes from the
  * checkpoint and appends new batch partitions.
  *
  * At 100 TB/day the per-batch plan is one map-side token-count projection
  * plus a ≤ 256-group partial agg — the batch's histogram IS its shuffle
  * output; the probe reads |batches|·256 rows of metadata and runs q106's
  * extraction over ≤ 256 merged groups. Compaction of old batch partitions
  * (sum into one) is the q103 OPTIMIZE verb applied to metadata, needed
  * only after ~10⁶ batches.
  */
object HistogramStream {

  /** Streaming driver. `docs` must carry (doc_id long, text string). */
  def run(docs: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(docs, root, trigger) { (batch, batchId) =>
      // ≤ 256 rows — one file per batch partition
      BatchSink.write(root, batchId,
        "hist" -> TextAnalysis.lengthHistogram(batch).coalesce(1))
    }

  /** The standing merged histogram: sum of all batch partials per bucket.
    * Metadata-sized input (|batches| · ≤ 256 rows). */
  def mergedHistogram(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$root/hist")
      .groupBy($"bucket").agg(sum($"c").as("c"))
  }

  /** The probe: q106's extraction over the standing state — the streaming
    * and batch quantiles share one code path, so they cannot drift. */
  def quantiles(s: SparkSession, root: String): DataFrame =
    TextAnalysis.quantilesFromHistogram(mergedHistogram(s, root))
}
