package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Curation

/** S14 — streaming data-card maintenance: the governance card (q111's
  * additive metrics, q113's incremental identity) kept current as documents
  * arrive, completing the card's three maintenance modes on ONE code path:
  * batch ([[graft.ops.Curation.additiveCard]] over a full scan),
  * incremental (q113's diff deltas), and streaming (this seam's per-batch
  * partials) — all three are the same sum decomposition, so they cannot
  * disagree.
  *
  * Each micro-batch writes its own |sources|-row additive partial to
  * `card/batch=<id>` (pure function of the batch ⇒ replay-idempotent, the
  * S8/S12 protocol — no state store, no window); the standing card is a sum
  * over partials per source. The S12 histogram argument applies verbatim:
  * the mergeability that lets the batch aggregation partial-combine across
  * TASKS is what makes the streaming twin trivial across TIME.
  *
  * At 100 TB/day the per-batch plan is one map-side token-count projection
  * plus a ≤ |sources|-group partial agg — the batch's partial IS its
  * shuffle output; the probe reads |batches|·|sources| rows of metadata.
  * Compacting old batch partitions (sum into one) is the q103 OPTIMIZE verb
  * applied to metadata.
  */
object CardStream {

  /** The per-trigger body, factored so specs can exercise a replay: the
    * batch's additive card partial — the literal same function as the
    * batch card — with |sources| rows, one file per batch partition. */
  private[streaming] def writeBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    BatchSink.write(root, batchId,
      "card" -> Curation.additiveCard(batch).coalesce(1))

  /** Streaming driver. `docs` must carry (source string, text string). */
  def run(docs: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(docs, root, trigger)(writeBatch(_, root, _))

  /** The standing card: per-source sums over every landed batch partial —
    * metadata-sized input (|batches| · |sources| rows). */
  def standingCard(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$root/card")
      .groupBy($"source").agg(sum($"n_docs").as("n_docs"),
        sum($"n_tokens").as("n_tokens"), sum($"n_chars").as("n_chars"),
        sum($"short_docs").as("short_docs"))
  }
}
