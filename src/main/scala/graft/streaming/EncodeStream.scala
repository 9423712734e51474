package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextAnalysis

/** S21 — streaming tokenizer encode: q153's BPE encoder applied ONLINE,
  * so admitted documents land loader-ready with their token accounting
  * (symbol counts, compression ratios) the micro-batch they arrive,
  * instead of waiting for the nightly corpus-wide encode. The merge list
  * is the STAGED tokenizer artifact ([[TextAnalysis.cachedMerges]] —
  * trained once per corpus snapshot, the S10 generation discipline);
  * each batch encodes with [[TextAnalysis.encodeDocs]] — the LITERAL
  * q153 expressions (shared code, the S18/S19 rule: the online path and
  * the oracle-checked batch path cannot drift).
  *
  * Out-of-vocabulary is a non-event by construction: per-word symbol
  * counts are a pure function of (word, merges), so a word the trainer
  * never saw simply merges whatever trained pairs it contains — same
  * fold, no special path (the real tokenizer-serving property).
  *
  * Idempotency: a batch's stats are a pure function of (batch × staged
  * merges); each batch overwrites its own `stats/batch=<id>` directory
  * (the S8 protocol), so an at-least-once replay rewrites identical
  * rows. On a corpus replayed as one batch, the output row set equals
  * q153 exactly (spec-verified congruence).
  *
  * Scale shape per batch: one (doc, word) partial-agg shuffle at batch
  * size; the merge fold runs over the BATCH's distinct words
  * (vocabulary-sized, map-side); the decode join's build side is that
  * same bounded vocab. The standing corpus is never touched. */
object EncodeStream {

  /** One batch's encode: the factored q153 body + overwrite of the
    * batch's own stats partition. */
  private[streaming] def encodeBatch(batch: DataFrame, batchId: Long,
      merges: Seq[(Long, String, String, Long)], root: String): Unit =
    BatchSink.write(root, batchId,
      "stats" -> TextAnalysis.encodeDocs(batch, merges))

  /** Streaming driver. `docs` must carry (doc_id long, text string); the
    * merge artifact is staged once from `corpusDir` before the stream
    * starts. */
  def run(docs: DataFrame, corpusDir: String, root: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    val merges = TextAnalysis.cachedMerges(s, corpusDir)
    BatchSink.start(docs, root, trigger)(encodeBatch(_, _, merges, root))
  }
}
