package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.TextFns
import graft.ops.{Dedup, SessionCache}

/** S17 — streaming EXACT-substring decontamination: q134's suffix-order
  * nearest-eval scan applied at the streaming admission boundary,
  * upgrading S9's fixed-width n-gram gate (hash collisions, quantized to
  * its window width) to exact longest-common-substring granularity: a
  * 7-token quote under S9's 4-gram radar and a 40-token verbatim leak
  * both read as their true token lengths here, and the admission decision
  * flags at the same ≥ [[graft.ops.Dedup.SpanTokens]] width q134 gates
  * batch corpora with (VERDICT r9 #2).
  *
  * What is STAGED vs what arrives: the eval side is the FIXED artifact (a
  * benchmark suite — bounded regardless of corpus scale, the S9
  * contract), so its suffix KEY TABLE — every eval suffix as its first
  * [[KeyCap]] tokens — is built once per (session, corpus) and reused by
  * every micro-batch ([[SessionCache]], the q132 staging discipline). The
  * arriving documents are NOT in any standing index (they are being
  * gated before admission), so each batch contributes only its own
  * suffix keys.
  *
  * Per-batch algorithm — the q134 machinery at the stream boundary: in
  * (capped) suffix order over batch ∪ eval suffixes, the max LCP of a
  * batch suffix against the eval SET is achieved at its nearest eval
  * neighbor above or below (the suffix-array interval property), so one
  * range-partitioned sort of the union + a two-level running-last scan
  * (per-partition window, then a ≤ |partitions|-row carry — the q134
  * bucket-scan shape, never a data-sized single-partition window) hands
  * every batch suffix its two eval neighbors; the LCP compare is the
  * shared map-side zip_with first-mismatch.
  *
  * The [[KeyCap]]-token cap is what makes the per-batch sort carry
  * bounded keys: reported `lcs_tokens` is exactly min(true LCS, KeyCap).
  * The ≥ SpanTokens admission FLAG is exact (SpanTokens ≪ KeyCap); only
  * the reported length of a > KeyCap-token leak saturates — and such a
  * document is flagged either way.
  *
  * Scale shape per batch: suffix explode is map-side; ONE range exchange
  * of (batch + eval) capped keys; windows are per-range-partition; the
  * carry is |partitions| rows broadcast back; the per-doc verdict is one
  * groupBy(doc_id) max. Replay-idempotent: each batch's split is a pure
  * function of (batch, staged eval keys) written as overwrite-by-batch
  * partitions — the S9 sink contract.
  */
object ExactDecontamStream {

  /** Capped suffix-key width in tokens. LCS reporting saturates here;
    * the ≥ SpanTokens flag is exact for any cap ≥ SpanTokens. */
  val KeyCap = 64

  /** Range partitions for the per-batch union sort. Batch + eval bounded
    * ⇒ a modest constant; the carry table is this many rows. */
  private val RangeParts = 32

  private val evalKeysCache = SessionCache.frames()

  /** The staged artifact: every eval-doc suffix as (tie, ekey) — tie is
    * the q133/q134 witness encoding doc_id·2²⁰+pos (guarded there), ekey
    * the first [[KeyCap]] tokens. Built once per (session, corpus). */
  private[graft] def evalSuffixKeys(s: SparkSession, corpusDir: String)
      : DataFrame = evalKeysCache.getOrBuild(s, corpusDir) {
    import s.implicits._
    suffixKeys(
      graft.Tables(s, corpusDir, "documents")
        .filter($"doc_id" % 97 === 0)
        .select($"doc_id", $"text"))
      .localCheckpoint(true)
  }

  private[graft] def evictSession(s: SparkSession): Unit =
    evalKeysCache.evict(s)

  /** (doc_id, pos, tie, key) for every suffix of every doc — the map-side
    * explode both sides share, so batch and eval keys cap identically. */
  private def suffixKeys(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", TextFns.tokens($"text").as("toks"))
      .select($"doc_id", posexplode($"toks").as(Seq("p0", "tok")), $"toks")
      .select($"doc_id", ($"p0" + 1).cast("long").as("pos"),
        slice($"toks", $"p0" + 1, lit(KeyCap)).as("key"))
      .withColumn("tie", $"doc_id" * lit(1048576L) + $"pos")
  }

  /** First-mismatch LCP of two capped key arrays — the shared q131/q134
    * compare; null-safe for a missing neighbor (reads 0). */
  private def lcpOf(a: Column, b: Column): Column = {
    val m = least(size(a), size(b))
    val eq = zip_with(slice(a, lit(1), m), slice(b, lit(1), m),
      (x, y) => coalesce(x === y, lit(false)))
    coalesce(nullif(array_position(eq, false), lit(0L)) - 1L, m.cast("long"))
  }

  /** Batch-side verdict: (doc_id, n_tokens, lcs_tokens, contaminated) for
    * every batch doc. Pure — no writes, no state. */
  private[streaming] def gradeBatch(s: SparkSession, batch: DataFrame,
      evalKeys: DataFrame): DataFrame = {
    import s.implicits._
    // localCheckpoint pins ONE execution of the range exchange: `b` feeds
    // both the scan and the per-partition summary, and spark_partition_id
    // is only meaningful if every consumer sees the SAME partition
    // assignment — two independent executions of a sampled range
    // partitioner may draw different boundaries, making the carry
    // inconsistent with the scan (observed under full-suite load as an
    // off-by-one LCS). Bounded by the micro-batch + eval keys.
    val b = suffixKeys(batch).withColumn("is_eval", lit(false))
      .unionByName(evalKeys.withColumn("is_eval", lit(true)))
      .repartitionByRange(RangeParts, $"key", $"tie")
      .withColumn("pid", spark_partition_id().cast("long"))
      .localCheckpoint(true)
    val evalKey = when($"is_eval", struct($"key"))
    val wPrev = Window.partitionBy($"pid").orderBy($"key", $"tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy($"pid").orderBy($"key".desc, $"tie".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = b
      .withColumn("pin", last(evalKey, ignoreNulls = true).over(wPrev))
      .withColumn("nin", last(evalKey, ignoreNulls = true).over(wNext))
    // range partition ids ascend with the key range (repartitionByRange's
    // sort contract), so the carry across partitions orders by pid — a
    // ≤ RangeParts-row metadata window, the q134 bucket-carry shape
    val psum = b.groupBy($"pid")
      .agg(max(when($"is_eval", struct($"key", $"tie"))).as("lastE"),
        min(when($"is_eval", struct($"key", $"tie"))).as("firstE"))
    val wbPrev = Window.orderBy($"pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wbNext = Window.orderBy($"pid".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = psum
      .withColumn("carry_prev", last($"lastE", ignoreNulls = true).over(wbPrev))
      .withColumn("carry_next", last($"firstE", ignoreNulls = true).over(wbNext))
      .select($"pid", $"carry_prev.key".as("cp"), $"carry_next.key".as("cn"))
    val lcs = scanned.filter(!$"is_eval")
      .join(broadcast(carry), "pid")
      .withColumn("pkey", coalesce($"pin.key", $"cp"))
      .withColumn("nkey", coalesce($"nin.key", $"cn"))
      .select($"doc_id",
        greatest(
          coalesce(when($"pkey".isNotNull, lcpOf($"key", $"pkey")), lit(0L)),
          coalesce(when($"nkey".isNotNull, lcpOf($"key", $"nkey")), lit(0L)))
          .as("lcp"))
      .groupBy($"doc_id").agg(max($"lcp").as("lcs_tokens"))
    batch
      .select($"doc_id", size(TextFns.tokens($"text")).cast("long").as("n_tokens"))
      .join(lcs, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_tokens",
        coalesce($"lcs_tokens", lit(0L)).as("lcs_tokens"),
        (coalesce($"lcs_tokens", lit(0L)) >= Dedup.SpanTokens.toLong)
          .as("contaminated"))
  }

  /** Streaming driver. `docs` must carry (doc_id long, text string);
    * `corpusDir` supplies the eval slice (the q134 fixture rule —
    * production points this at the benchmark suite). */
  def run(docs: DataFrame, corpusDir: String, root: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    val ev = evalSuffixKeys(s, corpusDir)
    BatchSink.start(docs, root, trigger) { (batch, batchId) =>
      // the verdict plan (suffix explode + range sort + carry windows)
      // feeds BOTH sink writes — materialize it once per batch, or each
      // write re-runs the whole scan (review r11: the seam paid 2×)
      val graded = gradeBatch(batch.sparkSession, batch, ev)
        .localCheckpoint(true)
      val contam = batch.join(
        graded.filter(col("contaminated"))
          .select(col("doc_id"), col("n_tokens"), col("lcs_tokens")),
        Seq("doc_id"))
      val clean = batch.join(
        graded.filter(!col("contaminated")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      BatchSink.write(root, batchId, "contam" -> contam, "clean" -> clean)
    }
  }
}
