package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.{HashFns, TextFns}

/** S9 — streaming benchmark decontamination: q68's n-gram collision rule as
  * a Structured Streaming admission gate. Every micro-batch of incoming
  * documents is checked against the FIXED held-out evaluation set's
  * distinct 4-token shingle hashes; contaminated docs (≥ 1 shared n-gram)
  * route to the `contam` sink with their hit statistics, clean docs to the
  * `clean` sink — the A3 error-isolation shape applied to eval hygiene, so
  * benchmark material never enters the training corpus in the first place.
  *
  * Unlike S8 the gate is STATELESS across batches: the eval set is a fixed
  * artifact (a benchmark suite — ~10⁵ n-grams regardless of corpus scale),
  * loaded once per run and broadcast into every batch's hit join. Each
  * batch's split is a pure function of (batch, eval set), so a replayed
  * at-least-once batch overwrites its own `batch=<id>` partition with an
  * identical decision — effectively-exactly-once sinks with no state dir
  * at all.
  *
  * At 100 TB/day of stream the per-batch plan is the q68 plan: one
  * codegen'd shingle-hash projection over the batch, a broadcast hash join
  * against the eval set, one groupBy(doc_id) over only the HIT rows
  * (collision-proportional), and a left_anti for the clean side. The
  * stream never shuffles more than its own collisions.
  */
object DecontamStream {

  /** The eval slice's distinct shingle-hash set (the fixture rule is q68's:
    * `doc_id % 97 == 0` of the corpus dir; production points this at the
    * benchmark suite). Bounded: distinct 4-grams of a fixed eval set. */
  private[streaming] def evalHashes(s: SparkSession, corpusDir: String): DataFrame = {
    import s.implicits._
    graft.Tables(s, corpusDir, "documents")
      .filter($"doc_id" % 97 === 0)
      .select(explode(array_distinct(
        HashFns.shingleHashes(TextFns.tokens($"text"), 4))).as("h"))
      .distinct()
  }

  /** Batch-side split: (contaminated docs with hit stats, clean docs).
    * Pure — no writes. `batch` must carry (doc_id long, text string). */
  private[streaming] def splitBatch(s: SparkSession, batch: DataFrame,
      evalSet: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    val hashed = batch.select($"doc_id", $"text",
        array_distinct(HashFns.shingleHashes(TextFns.tokens($"text"), 4)).as("hs"))
    // collision-proportional and batch-bounded; BOTH sink writes hang off
    // it, and without the lineage cut each write re-ran the shingle
    // explode + broadcast join + aggregate (r21, the S8 r8 discipline)
    val hits = hashed.select($"doc_id", explode($"hs").as("h"))
      .join(broadcast(evalSet), "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hit")) // hs pre-distinct ⇒ count == countDistinct
      .localCheckpoint(true)
    val contam = hashed
      .join(hits, "doc_id")
      .withColumn("n_shingles", size($"hs").cast("long"))
      .withColumn("hit_frac", $"n_hit".cast("double") / $"n_shingles".cast("double"))
      .select($"doc_id", $"text", $"n_shingles", $"n_hit", $"hit_frac")
    val clean = batch.join(hits.select($"doc_id"), Seq("doc_id"), "left_anti")
    (contam, clean)
  }

  /** Streaming driver. `docs` must carry (doc_id long, text string). */
  def run(docs: DataFrame, corpusDir: String, root: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    val ev = evalHashes(s, corpusDir).localCheckpoint(true)
    BatchSink.start(docs, root, trigger) { (batch, batchId) =>
      // a replayed batch re-derives the identical split (pure function of
      // batch × fixed eval set); both outputs hang off the checkpointed
      // hit set
      val (contam, clean) = splitBatch(batch.sparkSession, batch, ev)
      BatchSink.write(root, batchId, "contam" -> contam, "clean" -> clean)
    }
  }
}
