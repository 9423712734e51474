package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Similarity

/** S20 — streaming ANN QUERY serving: the complement of S10. There the
  * corpus arrives as a stream and queries are ad-hoc; here the INDEX is a
  * standing staged asset and the queries arrive as micro-batches — the
  * online retrieval seam a RAG/vector-search deployment actually runs
  * (Johnson et al. 2017's serving regime, expressed Spark-first).
  *
  * Every batch ranks with [[Similarity.ivfProbeRank]] — the LITERAL
  * expressions behind q59/q102's registered IVF probe (shared code, the
  * S18/S19 discipline: the online path and the oracle-checked batch path
  * cannot drift). Per batch: map-side nprobe cell assignment over the
  * broadcast quantizer, a cell-keyed join whose build side is the
  * batch's own probe rows (always the small side), exact cosine re-rank,
  * per-query top-k. The staged corpus never exchanges and is never
  * scanned outside the probed cells' partitions.
  *
  * Idempotency: results land under `results/batch=<id>` as an overwrite —
  * ranking is a pure function of (batch × staged index generation), so an
  * at-least-once replay rewrites identical rows (the S8 protocol). The
  * staged index is session-pinned ([[Similarity.stagedAssigned]]); index
  * refresh is S10's job, deliberately out of this hot path behind its
  * generation pointer.
  *
  * At 100 TB: the quantizer is bounded metadata on the driver; the
  * assigned corpus is the cell-partitioned standing index (S10's layout),
  * so a batch of Q queries reads only its ≤ Q·nprobe cells; per-batch
  * cost is one broadcast join + a top-k window over candidate rows. The
  * seam's throughput unit is queries/sec. */
object ServeStream {

  /** One batch's serving: probe + rank + overwrite the batch's results.
    * Factored for the spec's direct-replay assertion. `batch` must carry
    * (q_id long, q_emb array<float>). */
  private[streaming] def serveBatch(batch: DataFrame, batchId: Long,
      assigned: DataFrame, cells: Array[Long], mats: Array[Array[Double]],
      root: String, k: Int, nprobe: Int): Unit =
    // excludeSelf = false: serving q_ids live in the CALLER's id
    // namespace, not the corpus's — a coincidental q_id == vec_id
    // collision must not drop that corpus vector from the candidates
    // (ADVICE r10; corpus-member self-exclusion is q59's frame, not ours)
    BatchSink.write(root, batchId, "results" -> Similarity.ivfProbeRank(
      batch, assigned, cells, mats, k, nprobe, excludeSelf = false))

  /** Streaming driver. `queries` must carry (q_id long, q_emb
    * array<float>); the index side is staged once per session from
    * `corpusDir` (assignment projection + localCheckpoint) before the
    * stream starts — the standing-asset pattern. */
  def run(queries: DataFrame, corpusDir: String, root: String,
      k: Int = 3, nprobe: Int = 2,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    val (cells, mats) = Similarity.cachedCentroidMeta(s, corpusDir)
    val assigned = Similarity.stagedAssigned(s, corpusDir)
    BatchSink.start(queries, root, trigger)(
      serveBatch(_, _, assigned, cells, mats, root, k, nprobe))
  }

  /** All served results in (q_id, rank) order — the consumer's view. */
  def results(root: String)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$root/results")
      .orderBy($"batch", $"q_id", $"rank")
  }
}
