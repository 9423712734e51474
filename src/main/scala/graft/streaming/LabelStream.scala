package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Dedup

/** S27 — streaming connected-component label maintenance: the standing
  * cluster-label artifact (the asset q62/q80/q81 consume) kept current as
  * near-dup pair batches arrive, instead of re-clustering the corpus per
  * refresh. Each micro-batch folds its edges into the previous label
  * version through the LITERAL q191 merge core ([[Dedup.mergeLabels]]):
  * contract the batch's endpoints to their standing labels, run CC on the
  * DELTA-bounded contracted graph, relabel through the resulting map —
  * stream and batch cannot disagree on a merge, and because component
  * merging is commutative/associative, the final labels are independent
  * of how edges were batched (the spec drives the same edge set in one
  * and in many batches and asserts identical labels == the q60 rescan).
  *
  * Versioned-artifact idempotence (the q164 manifest discipline, not a
  * state store): batch b reads `labels/v=<max version < b>` and
  * OVERWRITES `labels/v=b`, so an at-least-once replay of batch b
  * recomputes from the same input version and rewrites an identical
  * artifact. Readers take the highest version — the q139/SCD2-style
  * snapshot contract. Version listing goes through Hadoop's FileSystem
  * API (see [[versions]]) and old versions are compacted away after each
  * commit ([[KeepVersions]]).
  *
  * A batch whose edges all land INSIDE existing components (and carry no
  * new node) is a no-op merge: it is detected with one delta-bounded
  * label contraction and SKIPPED — no CC rounds, no full-table rewrite,
  * no new version. Replay stays idempotent because the decision is a
  * pure function of (previous version, batch edges).
  *
  * Scale shape per batch: the contracted CC runs on batch-bounded
  * metadata; the relabel is one broadcast join against the standing
  * label table; the artifact rewrite is labels-table-sized (graph nodes,
  * not corpus rows) — so the per-batch floor (CC rounds + rewrite) is
  * amortized by TRIGGER SIZE, not eliminated: feed ≥10⁴ edges per
  * trigger (maxFilesPerTrigger against chunked pair files, or a rate
  * limit upstream) and the floor divides out. At 100 TB the rewrite
  * becomes a partitioned merge-on-read table — the merge math is
  * unchanged.
  */
object LabelStream {

  /** Label versions kept after each commit. foreachBatch replays at most
    * the LATEST uncommitted batch, which reads `max version < batchId` —
    * any keep ≥ 2 preserves that input version across the subsequent
    * compaction; 3 adds one margin for manual inspection. */
  val KeepVersions = 3

  private[streaming] def emptyLabels(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long)].toDF("doc_id", "cluster")
  }

  /** Committed label versions (ascending): `v=<id>` directories holding
    * `_SUCCESS`, listed through `root`'s own scheme ([[BatchSink.ids]]).
    * A torn version is invisible, and an unregistered or unreachable
    * scheme throws and fails the batch rather than merging into an empty
    * base and overwriting the standing table — a silent label reset. */
  private[streaming] def versions(s: SparkSession, root: String): Seq[Long] =
    BatchSink.ids(s, s"$root/labels", "v", committed = true)

  /** Highest committed label version strictly below `batchId`. */
  private[streaming] def latestVersionBelow(s: SparkSession, root: String,
      batchId: Long): Option[Long] =
    versions(s, root).filter(_ < batchId).lastOption

  /** Drop all but the newest [[KeepVersions]] committed versions. */
  private[streaming] def compact(s: SparkSession, root: String): Unit =
    versions(s, root).dropRight(KeepVersions)
      .foreach(v => BatchSink.delete(s, s"$root/labels/v=$v"))

  /** Current labels — what a consumer reads between batches. */
  def currentLabels(s: SparkSession, root: String): DataFrame =
    latestVersionBelow(s, root, Long.MaxValue)
      .map(v => s.read.parquet(s"$root/labels/v=$v"))
      .getOrElse(emptyLabels(s))

  /** True iff the batch can change the label table: some edge bridges
    * two distinct standing components or touches an unlabeled node.
    * One delta-bounded contraction (two label joins + existence probe) —
    * the same first step [[Dedup.mergeLabels]] would take, paid only on
    * batches that then skip the merge entirely. */
  private[streaming] def effective(prev: DataFrame, delta: DataFrame)
      : Boolean = {
    val s = prev.sparkSession
    import s.implicits._
    val lbl = prev.select($"doc_id", $"cluster")
    !delta
      .join(lbl.select($"doc_id".as("doc_a"), $"cluster".as("ca")),
        Seq("doc_a"), "left")
      .join(lbl.select($"doc_id".as("doc_b"), $"cluster".as("cb")),
        Seq("doc_b"), "left")
      .filter($"ca".isNull || $"cb".isNull || $"ca" =!= $"cb")
      .isEmpty
  }

  /** Streaming driver. `pairs` must carry (doc_a long, doc_b long). */
  def run(pairs: DataFrame, root: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    BatchSink.start(pairs, root, trigger) { (batch, batchId) =>
      import s.implicits._
      val prev = latestVersionBelow(s, root, batchId)
        .map(v => s.read.parquet(s"$root/labels/v=$v"))
        .getOrElse(emptyLabels(s))
      val delta = batch.select($"doc_a", $"doc_b")
      if (effective(prev, delta)) {
        val (labels, _) = Dedup.mergeLabels(prev, delta)
        labels.write.mode(SaveMode.Overwrite)
          .parquet(s"$root/labels/v=$batchId")
        compact(s, root)
      }
    }
  }
}
