package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{TextAnalysis, Versioning}

/** S16 — streaming distribution-drift monitoring: q122's total-variation
  * gate kept CURRENT as documents arrive. S12 maintains the corpus-shape
  * histogram; S16 maintains it per source and probes it against a pinned
  * REFERENCE profile (the histogram of the last released snapshot), so a
  * scraper change or upstream site redesign trips the gate within one
  * micro-batch of landing — not at the next full snapshot diff.
  *
  * The state is the same mergeable-partial shape as S12/S14/S15: each
  * micro-batch writes its own ≤ 256·|sources|-row per-source histogram
  * partition (a pure function of the batch — at-least-once replay lands
  * byte-identical partials, so the merged view is exactly-once-effective),
  * and the standing per-source histogram is a sum over partitions. The
  * probe is [[Versioning.tvBySource]] — the EXACT code path q122 runs on
  * snapshots, so the streaming answer and the batch answer cannot use
  * different arithmetic (the S12/q106 shared-extraction discipline).
  *
  * At 100 TB/day each batch pays one map-side token-count projection plus
  * a ≤ 256·|sources|-group partial agg; the probe reads
  * |batches|·256·|sources| rows of metadata and runs pure int64 cross
  * multiplication. A source absent from either side reads tv = 1 (total
  * drift) — a brand-new source is maximal news to a release gate.
  */
object DriftStream {

  /** Streaming driver. `docs` must carry (source string, text string);
    * each batch's partial shares q106/q122's bucketing verbatim. */
  def run(docs: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(docs, root, trigger) { (batch, batchId) =>
      // ≤ 256·|sources| rows — one file per batch
      BatchSink.write(root, batchId,
        "hist" -> TextAnalysis.lengthHistogramBy(batch, "source").coalesce(1))
    }

  /** The standing per-source histogram: sum of all batch partials.
    * Metadata-sized input (|batches| · ≤ 256·|sources| rows). */
  def mergedHistogram(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$root/hist")
      .groupBy($"source", $"bucket").agg(sum($"c").as("c"))
  }

  /** The drift probe: TV of the standing stream state against a pinned
    * reference profile (source, bucket, c) — q122's exact computation,
    * shared via [[Versioning.tvBySource]]. Columns: (source, n1_docs =
    * reference docs, n2_docs = streamed docs, tv_num, tv). */
  def drift(s: SparkSession, root: String, reference: DataFrame): DataFrame =
    Versioning.tvBySource(reference, mergedHistogram(s, root))
}
