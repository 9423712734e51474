package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S11 — streaming MERGE: q99's join-based upsert generalized from the
  * signatures-specific seam ([[SigningStream.upsert]], insert-if-absent) to
  * an arbitrary keyed table with REAL update semantics, applied per
  * micro-batch (the foreachBatch MERGE every pre-Delta production lake ran,
  * and what Delta's streaming MERGE compiles to underneath).
  *
  * Layout: the target is Hive-partitioned by `xxhash64(key) mod nBuckets`
  * ([[BucketCol]]) — each batch touches only the bucket directories its
  * keys hash into (directory-level partition pruning via `isin` on the
  * partition column), so per-batch cost is
  * O(batch + touched buckets), independent of total table history.
  *
  * Exactly-once protocol, two halves with different tools:
  *  - DECIDE once: the merge DELTA (per-key action insert/update with
  *    before/after values — q99's audit shape) is computed against the
  *    pre-apply table and written to `audit/batch=<id>` FIRST. A replayed
  *    batch whose audit `_SUCCESS` marker exists REUSES the pinned
  *    decisions instead of recomputing them against a table the apply may
  *    already have mutated — decisions are a pure function of the state
  *    BEFORE the batch (the DedupStream state discipline).
  *  - APPLY idempotently: the affected partitions are rewritten as
  *    `(partition rows ANTI batch keys) ∪ batch rows` — re-running it
  *    against an already-merged table produces the identical table, so a
  *    crash anywhere between audit and apply (or a full replay) never
  *    double-applies. Replacement rows are STAGED to a scratch directory
  *    and the dynamic partition overwrite reads from the staging copy,
  *    never from the path being overwritten (the q100 ADVICE fix).
  *
  * At 100 TB: bucket count rises with table size (buckets ≈ table/128 MB),
  * the per-batch rewrite touches only collision buckets, and the audit
  * stream IS the change-data-capture feed downstream consumers tail.
  */
object MergeStream {

  /** Hive partition column of the merge target. */
  val BucketCol = "key_bucket"

  private def bucketOf(keyCol: String, nBuckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong))

  /** One micro-batch MERGE of `batchRaw` into `targetDir`. Pure function
    * of (pre-batch table, batch) by the decide/apply protocol above.
    * `seqCol` orders in-batch versions of the same key (last wins). */
  private[streaming] def mergeBatch(s: SparkSession, batchRaw: DataFrame,
      targetDir: String, auditDir: String, keyCol: String, seqCol: String,
      nBuckets: Int, batchId: Long): Unit = {
    import s.implicits._
    // last-wins per key within the batch: highest seq survives (ties to
    // the larger value of the remaining columns' struct for determinism)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
    val fresh = batchRaw
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
      .withColumn(BucketCol, bucketOf(keyCol, nBuckets))
      // several consumers (audit join, affected-bucket collect, staged
      // write) — one execution
      .localCheckpoint(true)
    val valueCols = fresh.columns
      .filterNot(c => c == keyCol || c == BucketCol).toSeq
    val newVals = struct(valueCols.map(col): _*)
    val valsType = fresh.select(newVals.as("vv")).schema.head.dataType
    val batchAuditDir = s"$auditDir/batch=$batchId"
    val targetHasData = BatchSink.ids(s, targetDir, BucketCol).nonEmpty

    // ---- DECIDE (once): skip when this batch's audit is already pinned
    if (!BatchSink.committed(s, batchAuditDir)) {
      val audited =
        if (!targetHasData)
          fresh.select(col(keyCol), lit("insert").as("action"),
            lit(null).cast(valsType).as("old_values"), newVals.as("new_values"))
        else {
          // partition-pruned presence probe: only the batch's buckets are
          // read; presence rides on a non-null MARKER (the q99 rule)
          val buckets = fresh.select(col(BucketCol)).distinct()
            .collect().map(_.getLong(0)).toSeq // ≤ nBuckets — metadata
          val old = s.read.schema(fresh.schema).parquet(targetDir)
            .filter(col(BucketCol).isin(buckets: _*))
            .select(col(keyCol), lit(1L).as("matched"), newVals.as("old_values"))
          fresh.select(col(keyCol), newVals.as("new_values"))
            .join(old, Seq(keyCol), "left")
            .withColumn("action",
              when($"matched".isNull, "insert").otherwise("update"))
            .select(col(keyCol), $"action", $"old_values", $"new_values")
        }
      audited.write.mode(SaveMode.Overwrite).parquet(batchAuditDir)
    }

    // ---- APPLY (idempotent): partitions' rows anti batch keys ∪ batch
    if (!targetHasData) {
      fresh.write.mode(SaveMode.Overwrite)
        .partitionBy(BucketCol).parquet(targetDir)
    } else {
      val buckets = fresh.select(col(BucketCol)).distinct()
        .collect().map(_.getLong(0)).toSeq
      val staged = s"$targetDir.staging"
      s.read.schema(fresh.schema).parquet(targetDir)
        .filter(col(BucketCol).isin(buckets: _*))
        .join(fresh.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(fresh)
        .write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(staged)
      // overwrite reads the STAGING copy — never the path being replaced.
      // Every affected bucket is present in the staged data (the merge
      // adds or replaces rows, never empties a bucket), so dynamic
      // overwrite replaces exactly the affected directories.
      s.read.schema(fresh.schema).parquet(staged)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol).parquet(targetDir)
      BatchSink.delete(s, staged)
    }
  }

  /** Streaming driver. `source` must carry (`keyCol`, `seqCol`, value
    * columns); the merge delta lands under `<root>/audit/batch=<id>` and
    * the merged table under `targetDir`. */
  def run(source: DataFrame, targetDir: String, root: String,
      keyCol: String = "k", seqCol: String = "seq", nBuckets: Int = 16,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery =
    BatchSink.start(source, root, trigger) { (batch, batchId) =>
      mergeBatch(batch.sparkSession, batch, targetDir, s"$root/audit",
        keyCol, seqCol, nBuckets, batchId)
    }
}
