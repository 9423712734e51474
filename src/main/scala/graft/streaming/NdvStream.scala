package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Layout

/** S29 — streaming distinct-count (ndv) sketch maintenance: the q200
  * K-minimum-values sketch kept current per micro-batch, completing the
  * optimizer-statistics loop (S28 maintains the q197 histogram; this
  * maintains the ndv every q199 containment estimate divides by).
  *
  * The contrast with S28 is the point: equi-width histograms are
  * additive only under STAGED bounds (a generation artifact re-elected
  * on drift), but a KMV sketch needs no staging at all — the hash
  * domain [0, P) is fixed a priori ([[Layout.kmvHashSql]], the literal
  * q200 expression), and "the K smallest distinct hashes" is an
  * ASSOCIATIVE, COMMUTATIVE, IDEMPOTENT set reduction: min-K of a union
  * is the min-K of min-Ks, re-delivered rows land on the same hashes,
  * and batch order is irrelevant. So the merged streamed sketch is not
  * merely congruent with the one-pass batch sketch — it is EQUAL, row
  * for row, for ANY batching (spec-pinned), and the estimate read off
  * the merged sketch is the q200 estimate verbatim.
  *
  * Idempotency protocol (S8/S9/S12/S28): the per-batch ≤ K-row partial
  * is a pure function of the batch, overwritten into `ndv/batch=<id>`;
  * reprocessing a batch rewrites the identical partial. The standing
  * sketch is min-K over all batch partitions — |batches|·≤K metadata
  * rows, no state store, no rescan.
  *
  * At 100 TB/day the per-batch plan is a map-side partial distinct on
  * the hash plus a TakeOrdered(K) — each batch ships at most K rows
  * past its own scan, and the standing artifact the planner reads is
  * K rows regardless of corpus size. */
object NdvStream {

  /** Per-batch ≤ K-row KMV partial — pure in the batch; `batch` carries
    * (v bigint). The K smallest distinct hashes of the batch's NON-NULL
    * values: a NULL v carries no distinct-count information, and its
    * NULL hash would otherwise survive distinct(), sort NULLS FIRST into
    * the limit-K window, and inflate the sketch's row count — the filter
    * is mirrored by q205's oracle CTE (`WHERE v IS NOT NULL`) so engine
    * and oracle agree on nullable join columns. */
  private[streaming] def batchSketch(batch: DataFrame): DataFrame =
    batch.where(col("v").isNotNull)
      .select(expr(Layout.kmvHashSql("v")).as("h")).distinct()
      .orderBy(col("h")).limit(Layout.KmvK)

  /** One micro-batch: the ≤ K-row partial overwritten into its batch
    * partition — shared by [[run]] and the q205 combined maintenance
    * pass ([[graft.ops.Planner]]), so the engine-driven and the
    * audit-driven artifact cannot drift. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      root: String): Unit =
    // ≤ K rows — one file per batch partition
    BatchSink.write(root, batchId, "ndv" -> batchSketch(batch).coalesce(1))

  /** Streaming driver. `values` must carry (v bigint). */
  def run(values: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(values, root, trigger)(processBatch(_, _, root))

  /** The standing merged sketch: min-K over the distinct hashes of all
    * batch partials — metadata-sized input (|batches| · ≤ K rows),
    * and EQUAL to the one-pass sketch of the union (associativity). */
  def mergedSketch(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$root/ndv")
      .select($"h").distinct().orderBy($"h").limit(Layout.KmvK)
  }

  /** The ndv estimate a planner reads off a sketch frame (≤ K rows —
    * driver-side by design, like q199's catalog lookup): exhaustive
    * below K, (K−1)·P div h_(K) at K. */
  def estimate(sketch: DataFrame): Long = {
    // by NAME, not ordinal (ADVICE r14): an aggregate reorder must fail
    // the read, not silently swap the row count and the k-th hash
    val r = sketch
      .agg(count(lit(1)).as("rows"), coalesce(max(col("h")), lit(0L)).as("kth"))
      .select("rows", "kth").head()
    Layout.kmvEstimate(r.getLong(0), r.getLong(1))
  }
}
