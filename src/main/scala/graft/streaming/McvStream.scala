package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S31 — streaming MCV / frequency-statistics maintenance: the q203
  * most-common-values list kept current per micro-batch, closing the last
  * asymmetric member of the optimizer-statistics family (S28 maintains
  * q197's histogram, S29 maintains q200's ndv sketch; this maintains the
  * frequency table q203's skew-aware join estimates read).
  *
  * The structural observation (the S29 contrast again): a histogram
  * needs staged bounds and an MCV list is a top-k — neither is additive —
  * but the VALUE-DOMAIN COUNT TABLE underneath the MCV list is pure
  * addition: counts of a union are sums of counts, associative and
  * commutative in any batching. So the stream maintains the count table
  * (bounded — `n_chars` is a bounded attribute, so the artifact stays
  * value-domain-sized at any corpus scale) and the MCV list, the
  * uniformity remainder, and the q203 estimate itself are READ-TIME
  * derivations — no election, no staging, no rebin, and the merged table
  * is EQUAL to the one-pass table for any batching (spec-pinned).
  *
  * Idempotency protocol (S8/S9/S12/S28/S29): the per-batch partial is a
  * pure function of the batch, overwritten into `mcv/batch=<id>`;
  * reprocessing a batch rewrites the identical partial. The standing
  * table is a sum over batch partitions — |batches|·|values| metadata
  * rows, no state store, no rescan.
  *
  * At 100 TB/day the per-batch plan is one map-side partial-aggregated
  * groupBy to value-domain rows; the standing artifact a planner reads
  * is the value domain, regardless of corpus size. */
object McvStream {

  /** Per-batch value-count partial — pure in the batch; `batch` carries
    * (v bigint). The null group is KEPT, exactly as q203's count table
    * keeps it (a grouped count, not a join). */
  private[streaming] def batchCounts(batch: DataFrame): DataFrame =
    batch.groupBy(col("v")).agg(count(lit(1)).as("n"))

  /** One micro-batch: the value-count partial overwritten into its batch
    * partition — shared by [[run]] and the q205 combined maintenance
    * pass ([[graft.ops.Planner]]). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      root: String): Unit =
    // value-domain rows — one file per batch partition
    BatchSink.write(root, batchId, "mcv" -> batchCounts(batch).coalesce(1))

  /** Streaming driver. `values` must carry (v bigint). */
  def run(values: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(values, root, trigger)(processBatch(_, _, root))

  /** The standing count table: per-value sums over all batch partials —
    * metadata-sized input, and EQUAL to the one-pass count table of the
    * union (addition is associative and commutative). */
  def mergedCounts(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/mcv")
      .groupBy(col("v")).agg(sum(col("n")).as("n"))

  // ------------------------------------------------- bounded mode (r18)

  /** Per-batch slots the BOUNDED partial keeps (VERDICT r17 #3): for a
    * column whose value domain scales with the corpus (a join key like
    * o_custkey or user_id), the full value-count partial is itself
    * corpus-scaled — a single-writer file that stops being metadata at
    * 100 TB. The bounded partial keeps the batch's top-[[BoundSlots]]
    * values exactly plus ONE tail row, so it is ≤ M+1 rows BY
    * CONSTRUCTION at any scale. */
  val BoundSlots = 512

  /** One micro-batch, BOUNDED: the batch's value counts ranked by
    * (count desc, value), the top `m` kept exactly, everything below
    * folded into a single tail row carrying (dropped mass, dropped
    * distinct count). Schema: (v, n, d, tail) — head rows have d = 1,
    * the tail row v = null.
    *
    * Maintenance contract (spec-pinned, [[McvStreamSpec]]): the partial
    * is a pure function of the batch and ≤ m+1 rows; when a batch's
    * value domain fits the slots (ndv ≤ m) the bounded artifact is
    * EXACTLY the unbounded one (tail mass 0) — so merged == one-pass
    * holds verbatim in that regime; past it, a value's merged head
    * count is a LOWER bound (exact whenever the value makes every
    * batch's top-m — true of genuine heavy hitters by definition), the
    * total mass head+tail is exact in any batching, and the per-batch
    * tail `d` is an upper bound on the remainder ndv (consumers use the
    * S29 KMV estimate instead, the q209 pairing). Deterministic given
    * the batch carve, so DuckDB recomputes the merged artifact from the
    * base table and lands on identical integers — the q209 oracle does
    * exactly that. */
  private[graft] def processBatchBounded(batch: DataFrame, batchId: Long,
      root: String, m: Int = BoundSlots): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // top-m via orderBy+limit — TakeOrderedAndProject: per-partition
    // partial top-m, driver merge of ≤ m rows per partition. NEVER a
    // global unpartitioned window, which would shuffle the batch's
    // whole value domain to ONE task — the exact corpus-scale
    // bottleneck this bounded mode exists to avoid. (n, v) is a total
    // order over the distinct values, so the cut is deterministic and
    // equals the oracle's per-chunk ROW_NUMBER recompute.
    // ONE pass over the grouped value counts (r21, guide §2.4): each
    // task keeps a BOUNDED m-slot heap of its partition's best
    // (n DESC, v ASC NULLS FIRST) rows — after the groupBy every value
    // lives in exactly one partition, so the global top-m is contained
    // in the union of per-partition top-m cuts — plus its (mass, ndv)
    // partials; the driver merges ≤ m rows + 2 longs per task. This
    // replaces a persist and THREE actions (mass aggregate, head
    // collect, write) with one job + the tiny write, and stays bounded
    // at any scale (O(m) memory per task, never a window).
    // (An Observation under the orderBy+limit looked cheaper still, but
    // `limit` executes via incremental executeTake and the observed
    // metrics then over-count — caught by McvStreamSpec's slot-budget
    // leg; this shape recomputes nothing and observes nothing.)
    // rank: better head slot = higher n, then smaller v, nulls first —
    // exactly Spark's (n DESC, v ASC) sort the old head collect used
    val rank: Ordering[(Option[Long], Long)] =
      new Ordering[(Option[Long], Long)] {
        def compare(x: (Option[Long], Long), y: (Option[Long], Long)): Int = {
          val byN = java.lang.Long.compare(y._2, x._2)
          if (byN != 0) byN
          else (x._1, y._1) match {
            case (None, None) => 0
            case (None, _) => -1
            case (_, None) => 1
            case (Some(a), Some(b)) => java.lang.Long.compare(a, b)
          }
        }
      }
    val parts = batchCounts(batch).select(col("v"), col("n")).rdd
      .mapPartitions { it =>
        // max-heap under `rank` ⇒ head = worst kept row, evicted first
        val heap = scala.collection.mutable.PriorityQueue
          .empty[(Option[Long], Long)](rank)
        var mass = 0L
        var ndv = 0L
        it.foreach { r =>
          val e = (if (r.isNullAt(0)) None else Some(r.getLong(0)),
            r.getLong(1))
          mass += e._2
          ndv += 1L
          heap.enqueue(e)
          if (heap.size > m) { heap.dequeue(); () }
        }
        Iterator.single((heap.toArray, mass, ndv))
      }.collect()
    val (total, ndv) = (parts.map(_._2).sum, parts.map(_._3).sum)
    val head = parts.flatMap(_._1).sortBy(identity)(rank).take(m)
      .map { case (v, n) => (v, n, 1L, false) }
    val headMass = head.map(_._2).sum
    val rows = head.toSeq :+
      ((None: Option[Long], total - headMass, ndv - head.length, true))
    // ≤ m+1 rows by construction
    BatchSink.write(root, batchId,
      "mcv" -> rows.toDF("v", "n", "d", "tail").coalesce(1))
  }

  /** Streaming driver for the BOUNDED mode. `values` must carry
    * (v bigint). */
  def runBounded(values: DataFrame, root: String, m: Int = BoundSlots,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(values, root, trigger)(processBatchBounded(_, _, root, m))

  /** The standing HEAD of a bounded artifact: per-value sums over the
    * head rows of every batch partial. ≤ |batches|·m input rows. */
  def mergedBoundedHead(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/mcv")
      .where(!col("tail"))
      .groupBy(col("v")).agg(sum(col("n")).as("n"))

  /** (head mass, tail mass) of a bounded artifact — their sum is the
    * EXACT total row count in any batching (every batch row is counted
    * exactly once, head or tail). */
  def boundedMasses(s: SparkSession, root: String): (Long, Long) = {
    val r = s.read.parquet(s"$root/mcv")
      .agg(
        coalesce(sum(org.apache.spark.sql.functions.when(!col("tail"),
          col("n"))), lit(0L)).as("head_n"),
        coalesce(sum(org.apache.spark.sql.functions.when(col("tail"),
          col("n"))), lit(0L)).as("tail_n"))
      .head()
    (r.getAs[Long]("head_n"), r.getAs[Long]("tail_n"))
  }

  /** The top-k MCV list a catalog serves: frequency-ranked, ties broken
    * by value — the exact q203 ranking. */
  def mcvList(s: SparkSession, root: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    mergedCounts(s, root)
      .withColumn("r", row_number().over(
        Window.orderBy(col("n").desc, col("v"))))
      .where(col("r") <= k)
      .select(col("v"), col("n"), col("r").cast("long").as("r"))
  }

  /** q203's hybrid self-join estimate at MCV size k, read off the
    * streamed table: Σ_{v ∈ top-k} n(v)² + n_rest² div ndv_rest. One
    * wide aggregate over the value-domain table, `head()` of one row —
    * the planner's catalog lookup (the NdvStream.estimate discipline). */
  def estimate(s: SparkSession, root: String, k: Int): Long = {
    import org.apache.spark.sql.expressions.Window
    val r = mergedCounts(s, root)
      .withColumn("r", row_number().over(
        Window.orderBy(col("n").desc, col("v"))))
      .agg(coalesce(sum(when(col("r") <= k, col("n") * col("n"))), lit(0L))
          .as("mcv"),
        coalesce(sum(when(col("r") > k, col("n"))), lit(0L)).as("nrest"),
        count(when(col("r") > k, 1)).as("drest"))
      .selectExpr("cast(mcv + nrest * nrest div greatest(drest, 1) " +
        "as bigint) as est")
      .head()
    r.getLong(0)
  }
}
