package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextAnalysis

/** S15 — streaming heavy-hitter maintenance: q97's 3×1024 count-min sketch
  * kept current as documents arrive, so term-frequency probes (stopword
  * candidates, template/boilerplate detectors, vocabulary drift alarms)
  * read fresh estimates without rescanning the corpus. The CM property
  * that partial aggregation IS the sketch merge across tasks (cells add)
  * is applied across TIME: each micro-batch writes its own ≤ 3072-row
  * sketch partition, and the standing sketch is a sum over partitions —
  * no state store, no window, no rescan. This completes the mergeable-
  * sketch story's third mode the way S12 did for the length histogram and
  * S14 for the data card: batch (q97), merged-over-batches, and streaming
  * are one code path ([[graft.ops.TextAnalysis.cmSketch]] /
  * `cmEstimate`), so the three answers cannot drift.
  *
  * Idempotency protocol (S8/S9/S12): the per-batch sketch is a pure
  * function of the batch, overwritten into `sketch/batch=<id>`, so an
  * at-least-once replay lands byte-identical partials and the merged view
  * is exactly-once-effective. A restarted stream resumes from the
  * checkpoint and appends new batch partitions.
  *
  * At 100 TB/day the per-batch plan is one token explode plus a ≤ 3072-
  * group partial agg — the batch's sketch IS its shuffle output; the
  * probe reads |batches|·3072 rows of metadata, sums cells, and takes the
  * min over 3 depths per term. The estimate's contract is one-sided
  * (est ≥ true count, q97's oracle-checked overestimate) and survives the
  * merge because addition preserves it per cell. Compaction of old batch
  * partitions (sum into one) is the q103 OPTIMIZE verb applied to
  * metadata, needed only after ~10⁶ batches.
  */
object SketchStream {

  /** Streaming driver. `docs` must carry (doc_id long, text string). */
  def run(docs: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(docs, root, trigger) { (batch, batchId) =>
      // ≤ 3072 rows — one file per batch partition
      BatchSink.write(root, batchId,
        "sketch" -> TextAnalysis.cmSketch(batch).coalesce(1))
    }

  /** The standing merged sketch: cells summed across batch partials —
    * the CM merge. Metadata-sized input (|batches| · ≤ 3072 rows). */
  def mergedSketch(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$root/sketch")
      .groupBy($"row", $"bucket").agg(sum($"c").as("c"))
  }

  /** The probe: q97's CM read path over the standing state — min over the
    * 3 depth cells per `tok` in `terms`; a term with no populated cell
    * yields no row (absent = 0). Streaming and batch estimates share one
    * code path, so they cannot drift. */
  def estimate(s: SparkSession, root: String, terms: DataFrame): DataFrame =
    TextAnalysis.cmEstimate(terms, mergedSketch(s, root))
}
