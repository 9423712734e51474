package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Layout

/** S28 — streaming optimizer-statistics maintenance: the q197 4096-bin
  * selectivity histogram kept current per micro-batch, so the planner
  * statistics every join-order / exchange-size decision reads (q197–q199)
  * stay fresh without rescanning the fact table — the S12 corpus-shape
  * pattern applied to the OPTIMIZER's artifact.
  *
  * The wrinkle vs S12: equi-width bin counts are additive ONLY under
  * FIXED bounds, and a stream never knows the global min/max upfront. So
  * the bounds are a STAGED artifact (the S10/S25 staged-stats pattern —
  * what a production system keeps behind a generation pointer and
  * re-elects on drift): [[stageBounds]] elects (mn, mx) once from the
  * standing corpus; every batch then bins under those bounds with the
  * LITERAL q197 binning expression ([[Layout.histBinOf]] — staged and
  * batch histograms cannot disagree on a bin), and arrivals OUTSIDE the
  * staged range clamp to the edge bins (the half-bucket estimator already
  * treats the extremes as open-ended; a drift large enough to matter
  * triggers re-election — S30 ([[StatsGenStream]]) runs that full
  * generation-cutover lifecycle on top of this binning core).
  *
  * Idempotency protocol (S8/S9/S12): the per-batch ≤ 4096-row partial is
  * a pure function of (batch, staged bounds), overwritten into
  * `hist/batch=<id>`; the standing histogram is a sum over batch
  * partitions — no state store, no rescan. Congruence is spec-pinned:
  * with bounds = the global min/max, the merged streamed histogram
  * equals the one-pass batch histogram bin for bin, for ANY batching.
  *
  * At 100 TB/day the per-batch plan is one map-side binned projection
  * plus a ≤ 4096-group partial agg — the batch's histogram IS its
  * shuffle output; the merge reads |batches|·≤4096 metadata rows.
  */
object StatsStream {

  /** Elect the staged bounds from a standing prices frame (column `p`).
    * Driver-side two doubles — a generation artifact, not data motion.
    * Requires a non-degenerate range (mx > mn), like q197. */
  def stageBounds(prices: DataFrame): (Double, Double) = {
    val r = prices.agg(min(col("p")), max(col("p"))).head()
    val (mn, mx) = (r.getDouble(0), r.getDouble(1))
    require(mx > mn, s"degenerate price range [$mn, $mx]")
    (mn, mx)
  }

  /** Per-batch ≤ 4096-row histogram partial — pure in (batch, bounds);
    * `batch` carries (p double). Values below the staged mn clamp to bin
    * 0 (greatest), above mx to the top bin (the least already inside
    * [[Layout.histBinOf]]). */
  private[streaming] def batchHistogram(batch: DataFrame,
      mn: Double, mx: Double): DataFrame =
    batch.where(col("p").isNotNull)
      .withColumn("mn", lit(mn)).withColumn("mx", lit(mx))
      .select(greatest(lit(0L), expr(Layout.histBinOf("p"))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))

  /** One micro-batch: the ≤ 4096-row partial under the staged bounds,
    * overwritten into its batch partition — shared by [[run]] and the
    * q205 combined maintenance pass ([[graft.ops.Planner]]). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      root: String, mn: Double, mx: Double): Unit =
    // ≤ 4096 rows — one file per batch partition
    BatchSink.write(root, batchId,
      "hist" -> batchHistogram(batch, mn, mx).coalesce(1))

  /** Streaming driver. `prices` must carry (p double); `bounds` is the
    * staged generation from [[stageBounds]]. */
  def run(prices: DataFrame, root: String, bounds: (Double, Double),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(prices, root, trigger)(
      processBatch(_, _, root, bounds._1, bounds._2))

  /** The standing merged histogram: sum of batch partials per bin —
    * metadata-sized input (|batches| · ≤ 4096 rows). */
  def mergedHistogram(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$root/hist")
      .groupBy($"bin").agg(sum($"n").as("n"))
  }
}
