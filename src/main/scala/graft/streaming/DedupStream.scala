package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Dedup, SessionCache}

/** S8 — streaming corpus refresh: the q72 delta-vs-corpus near-dup check as
  * a Structured Streaming stage. Each micro-batch of incoming documents is
  * checked against the STANDING corpus index (the static fixture corpus ∪
  * every previously-ACCEPTED streaming doc), then split error-sink-style
  * (A3): near-dups of anything already held go to the `dups` sink with
  * their matched corpus doc and true Jaccard; novel docs are appended to
  * the `clean` sink AND to the standing accepted-set state, so a later
  * batch's near-dup of an earlier batch's accepted doc IS caught — the
  * dedup property holds across the whole stream, not per batch.
  *
  * State discipline: the accepted set is persisted as per-batch parquet
  * partitions (`state/batch=<id>`) holding only (doc_id, 8-byte shingle
  * hashes) — orders of magnitude smaller than the text. A replayed batch
  * (at-least-once file source) OVERWRITES its own partition and re-derives
  * the same split (the dedup decision is a pure function of corpus ∪ state
  * BEFORE this batch), so the sinks stay effectively exactly-once — the
  * same protocol as the signing upsert's crash-safe migration (S4).
  *
  * At 100 TB the static side is the production corpus's standing shingle
  * index (built once, reused every refresh — the q51/q72 shared-prep
  * asset); each batch pays only its own collisions (delta×corpus equi-join
  * on the hash, never corpus²).
  */
object DedupStream {

  /** A standing near-dup index: per-doc sorted shingle arrays (the
    * verification side), the prefix-filtered df-capped candidate index,
    * and the hot-shingle list that capped it. */
  private[streaming] final case class StandingIndex(shingles: DataFrame,
      cappedPrefix: DataFrame, hot: DataFrame)

  /** Batch-side split: returns (dup pairs, accepted shingle docs) for one
    * micro-batch against corpus ∪ prior state. Pure — no writes.
    *
    * Both returned frames are localCheckpoint'd: the three sink writes of
    * one trigger (dups, clean, state) all hang off the pair set, and
    * without the lineage cut each write RE-EXECUTED the whole
    * candidate-generation + verify plan — the dominant per-trigger cost of
    * the seam (3× the pair-pipeline per batch, VERDICT r8 #3). Pairs are
    * collision-proportional and the delta is batch-sized, so both
    * checkpoints are bounded by the micro-batch, never the corpus. */
  private[streaming] def splitBatch(s: SparkSession, batch: DataFrame,
      standing: StandingIndex): (DataFrame, DataFrame) = {
    import s.implicits._
    val td0 = System.nanoTime()
    val delta = Dedup.shingleDocsOf(batch).localCheckpoint(true)
    val td1 = System.nanoTime()
    val pairs = Dedup.deltaPairsVsIndex(s, standing.shingles,
      standing.cappedPrefix, standing.hot, delta).localCheckpoint(true)
    System.err.println(f"[dedup-stream] delta ${(td1 - td0) / 1e9}%.2fs " +
      f"pairs ${(System.nanoTime() - td1) / 1e9}%.2fs")
    val dupIds = pairs.select($"doc_a".as("doc_id")).distinct()
    // docs too short to shingle (absent from `delta`) cannot near-dup
    // anything — they are accepted with an empty hash set kept OUT of the
    // state (they can't be matched later either).
    val accepted = delta.join(dupIds, Seq("doc_id"), "left_anti")
    (pairs, accepted)
  }

  /** Standing-corpus index — shingle arrays, capped prefix index, hot
    * list — checkpointed once per (session, corpus dir) and reused by
    * every trigger: re-deriving the corpus shingles from TEXT and
    * re-paying the corpus-sized prefix explode + df aggregation on each
    * micro-batch was the dominant per-trigger fixed cost of the seam
    * (VERDICT r8 #3 — S8 ran at 1/20th of S9's rate). At production scale
    * the standing index is a persistent asset built once and reused every
    * refresh (the q51/q72 shared-prep); the stream reads 8-byte hashes,
    * never re-tokenizes the corpus. */
  private val corpusCache = SessionCache.values[StandingIndex]()

  private[graft] def warmStandingIndex(s: SparkSession,
      corpusDir: String): StandingIndex =
    corpusCache.getOrBuild(s, corpusDir) {
      import s.implicits._
      val sh = Dedup.shingleDocsOf(graft.Tables(s, corpusDir, "documents"))
        .localCheckpoint(true)
      val pfx = sh.select($"doc_id",
        explode(expr("slice(hs, 1, size(hs) div 2 + 1)")).as("h"))
      val hot = pfx.groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" > Dedup.HotShingleMaxDf).select($"h")
        .localCheckpoint(true)
      val capped = pfx.join(broadcast(hot), Seq("h"), "left_anti")
        .localCheckpoint(true)
      StandingIndex(sh, capped, hot)
    }

  /** Drop the cached index for a corpus dir whose files are about to be
    * rewritten (same session-immutability contract as Dedup's caches). */
  private[graft] def evictStandingIndex(s: SparkSession,
      corpusDir: String): Unit =
    corpusCache.evict(s, corpusDir)

  /** The standing index as batch `batchId` must see it: the static corpus
    * + every accepted batch BEFORE this one. Excluding this batch's own
    * partition makes a replayed batch re-decide against the same standing
    * view it saw the first time (its earlier partial writes are invisible
    * to its own decision), which is what makes the overwrite idempotent.
    * Accepted-state shingles join the index capped by the CORPUS hot list
    * (see [[graft.ops.Dedup.deltaPairsVsIndex]]'s df contract). */
  private[streaming] def standingBefore(s: SparkSession, corpusDir: String,
      stateDir: String, batchId: Long): StandingIndex = {
    import s.implicits._
    val corpus = warmStandingIndex(s, corpusDir)
    if (BatchSink.ids(s, stateDir).isEmpty) corpus
    else {
      // dir layout state/batch=<id> ⇒ `batch` is an inferred partition
      // column; partition pruning keeps the exclusion metadata-only
      val stateSh = s.read.parquet(stateDir).filter($"batch" < batchId)
        .select($"doc_id", $"hs")
      val statePfx = stateSh.select($"doc_id",
          explode(expr("slice(hs, 1, size(hs) div 2 + 1)")).as("h"))
        .join(broadcast(corpus.hot), Seq("h"), "left_anti")
      StandingIndex(corpus.shingles.unionByName(stateSh),
        corpus.cappedPrefix.unionByName(statePfx), corpus.hot)
    }
  }

  /** Streaming driver. `docs` must carry (doc_id long, text string). */
  def run(docs: DataFrame, corpusDir: String, root: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    BatchSink.start(docs, root, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val t0 = System.nanoTime()
      val prior = standingBefore(spark, corpusDir, s"$root/state", batchId)
      val (pairs, accepted) = splitBatch(spark, batch, prior)
      val tSplit = (System.nanoTime() - t0) / 1e9
      // clean = NOT flagged (includes docs too short to shingle — they
      // cannot near-dup anything); state = the shingled accepts only.
      // All three outputs hang off the CHECKPOINTED pair/accept frames;
      // replay safety comes from overwrite-by-partition + standingBefore's
      // self-exclusion, not from write order. DedupStreamSpec's replay
      // leg proves a re-run batch re-derives the identical split.
      val dupIds = pairs.select(col("doc_a").as("doc_id")).distinct()
      BatchSink.write(root, batchId, "dups" -> pairs,
        "clean" -> batch.join(dupIds, Seq("doc_id"), "left_anti"),
        "state" -> accepted)
      System.err.println(f"[dedup-stream] batch $batchId: " +
        f"split ${tSplit}%.2fs writes " +
        f"${(System.nanoTime() - t0) / 1e9 - tSplit}%.2fs")
    }
  }
}
