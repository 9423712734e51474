package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{HashFns, TextFns}

/** Corpus-curation operators — the release-gating stages of a training-data
  * pipeline that sit downstream of dedup/quality (q50–q64): benchmark
  * decontamination, n-gram LM rarity scoring, and deterministic stratified
  * sampling.
  *
  * Scale stance: every join here is keyed on an 8-byte shingle hash or a
  * stratum key; the eval-benchmark side of decontamination is broadcast
  * (a benchmark suite is small and fixed — ~10⁵ n-grams — regardless of
  * corpus size); the sampler's per-stratum top-k goes through Spark's
  * WindowGroupLimit so each map task forwards at most k rows per stratum.
  * Nothing is O(n²) in documents.
  */
object Curation {

  // ---------------------------------------------------------------- q68
  /** Benchmark decontamination (the GPT-3 appendix-C rule, re-expressed
    * Spark-first): a corpus document is contaminated iff it shares at least
    * one distinct 4-token n-gram with the held-out evaluation set. The
    * fixture's eval set is the deterministic `doc_id % 97 == 0` slice of
    * `documents`; in production it is the benchmark suite itself.
    *
    * Plan shape: one codegen'd shingle-hash projection over the scan, the
    * eval side reduced to a DISTINCT hash set and broadcast, then a
    * broadcast semi-style inner join + per-doc aggregation. The corpus side
    * never shuffles before the join; the only wide exchange is the final
    * groupBy(doc_id), whose input is already collision-proportional (only
    * hit shingles survive the join).
    */
  def q68Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashed = Tables(s, dir, "documents")
      .select($"doc_id",
        array_distinct(HashFns.shingleHashes(TextFns.tokens($"text"), 4)).as("hs"))
      .filter(size($"hs") > 0)
    val evalSet = hashed.filter($"doc_id" % 97 === 0)
      .select(explode($"hs").as("h")).distinct()
    val corpus = hashed.filter($"doc_id" % 97 =!= 0)
    val hits = corpus.select($"doc_id", explode($"hs").as("h"))
      .join(broadcast(evalSet), "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hit")) // hs is pre-distinct per doc → count == countDistinct
    corpus.select($"doc_id", size($"hs").cast("long").as("n_shingles"))
      .join(hits, "doc_id")
      .withColumn("hit_frac", $"n_hit".cast("double") / $"n_shingles".cast("double"))
      .withColumn("severe", $"hit_frac" > 0.2)
      .select($"doc_id", $"n_shingles", $"n_hit", $"hit_frac", $"severe")
      .orderBy($"doc_id")
  }

  /** Session-scoped cache of q68's hit table — q81 (and q115/S9-adjacent
    * release gates through it) re-derived the eval-collision hit set on
    * every invocation (VERDICT r9 #6). The cachedDupLabels discipline
    * applies verbatim: q68's own registered query still rebuilds per call
    * (its cost stays measured in the bench); composed consumers read the
    * checkpoint, built once per (session, dir). */
  private val evalHitsCache = SessionCache.frames()
  private[graft] def cachedEvalHits(s: SparkSession, dir: String): DataFrame =
    evalHitsCache.getOrBuild(s, dir)(
      q68Decontaminate(s, dir).localCheckpoint(true))
  private[graft] def evictSession(s: SparkSession): Unit =
    evalHitsCache.evict(s)
  /** Bench hook: pre-build the hit-table checkpoint so q81/q115's timed
    * iterations are uniformly warm (the warmComposedCaches pattern —
    * q68's build cost stays measured as q68's own timed body). */
  private[graft] def warmEvalHits(s: SparkSession, dir: String): Unit = {
    cachedEvalHits(s, dir); ()
  }

  /** q68 without its final ORDER BY, for composition (q81). */
  private val q68OracleNoOrder: String =
    s"""WITH hashed AS (
       |  SELECT doc_id, list_distinct(list_transform(${Sql.shingles("tokens", 4)},
       |    shing -> ${Sql.djb2("shing")})) AS hs
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)),
       |nonempty AS (SELECT * FROM hashed WHERE len(hs) > 0),
       |ev AS (SELECT DISTINCT unnest(hs) AS h FROM nonempty WHERE doc_id % 97 = 0),
       |corpus AS (SELECT * FROM nonempty WHERE doc_id % 97 <> 0),
       |hits AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       |  FROM (SELECT doc_id, unnest(hs) AS h FROM corpus) ch JOIN ev USING (h)
       |  GROUP BY doc_id)
       |SELECT c.doc_id, CAST(len(c.hs) AS BIGINT) AS n_shingles, hits.n_hit,
       |  CAST(hits.n_hit AS DOUBLE) / CAST(len(c.hs) AS DOUBLE) AS hit_frac,
       |  (CAST(hits.n_hit AS DOUBLE) / CAST(len(c.hs) AS DOUBLE)) > 0.2 AS severe
       |FROM corpus c JOIN hits USING (doc_id)""".stripMargin

  val q68Oracle: String = s"$q68OracleNoOrder\nORDER BY doc_id"

  // ---------------------------------------------------------------- q69
  /** N-gram LM rarity scoring (the CCNet quality-bucket idea with the LM
    * replaced by corpus bigram statistics, kept integer-exact): train bigram
    * counts over the whole corpus, then score each document by the fraction
    * of its bigram OCCURRENCES whose corpus count is at or below the corpus
    * mean. The rare test `count * vocab <= total` is pure 64-bit integer
    * arithmetic — scale-invariant (both sides grow linearly with data) and
    * bit-identical in any engine, where a floating `count <= total/vocab`
    * would hang the flag on a libm division.
    *
    * Plan shape: the trained counts table (the "LM" artifact — bigram
    * vocab, far smaller than the corpus) is MATERIALIZED once
    * (localCheckpoint ↔ production writing the model to storage), then
    * read twice: once for the 2-value (vocab, total) scalar, once as the
    * scoring join's build side. Without the materialization the corpus is
    * scanned and shuffle-aggregated twice — the planner does NOT reuse
    * the exchange across the two consumers (verified: 0 ReusedExchange,
    * 7 exchanges in the unmaterialized plan). All shuffles are on 8-byte
    * keys.
    */
  def q69LmRarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bg = Tables(s, dir, "documents")
      .select($"doc_id", explode(HashFns.shingleHashes(TextFns.tokens($"text"), 2)).as("h"))
    val counts = bg.groupBy($"h").agg(count(lit(1)).as("c")).localCheckpoint(true)
    val totals = counts.agg(count(lit(1)).as("vocab"), sum($"c").as("total"))
    bg.join(counts, "h")
      .crossJoin(broadcast(totals))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"c" * $"vocab" <= $"total", 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_frac", $"n_rare".cast("double") / $"n_bigrams".cast("double"))
      .withColumn("is_lowquality", $"rare_frac" > 0.5)
      .select($"doc_id", $"n_bigrams", $"n_rare", $"rare_frac", $"is_lowquality")
      .orderBy($"doc_id")
  }

  val q69Oracle: String =
    s"""WITH bg AS (
       |  SELECT doc_id, unnest(list_transform(${Sql.shingles("tokens", 2)},
       |    shing -> ${Sql.djb2("shing")})) AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)),
       |counts AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY h),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab, CAST(SUM(c) AS BIGINT) AS total FROM counts)
       |SELECT doc_id, n_bigrams, n_rare,
       |  CAST(n_rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rare_frac,
       |  (CAST(n_rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) > 0.5 AS is_lowquality
       |FROM (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CASE WHEN c * (SELECT vocab FROM tot) <= (SELECT total FROM tot)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |  FROM bg JOIN counts USING (h)
       |  GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Deterministic stratified sampling: at most k documents per language
    * stratum, selected by md5(doc_id) order — a fixed, engine-independent
    * pseudo-random permutation, so the SAME sample comes out of any engine,
    * any run, any parallelism (the property that makes a training-mix
    * reproducible). md5 over the decimal doc_id string is collision-free
    * here and bit-identical in Spark and DuckDB.
    *
    * Plan shape: row_number over (lang, md5) compiles to WindowGroupLimit —
    * each map task forwards only its local top-k per stratum before the
    * single shuffle on lang, so a 100 TB stratum moves k·tasks rows, not
    * its full size. Skew note (SCALE.md §3): with few huge strata the
    * residual sort is bounded by k·tasks, which is why the rank filter must
    * stay adjacent to the window (no intervening projection) to keep the
    * group-limit pushdown.
    */
  def q70StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 50
    val w = Window.partitionBy($"lang").orderBy($"rand_key", $"doc_id")
    Tables(s, dir, "documents")
      .withColumn("rand_key", md5($"doc_id".cast("string")))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter($"sample_rank" <= k)
      .select($"lang", $"sample_rank", $"doc_id", $"n_chars")
      .orderBy($"lang", $"sample_rank")
  }

  val q70Oracle: String =
    """SELECT lang, sample_rank, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
      |  FROM documents)
      |WHERE sample_rank <= 50
      |ORDER BY lang, sample_rank""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Temperature-weighted source mixing — the training-mix allocator: a
    * global budget of B documents is split across sources proportionally
    * to sqrt(n_source) (α = 0.5 up-sampling of small sources, the standard
    * multilingual/multi-source temperature trick), then each source
    * contributes its quota by md5(doc_id) order.
    *
    * Determinism discipline: the weight is floor(sqrt(n)) — IEEE-754
    * sqrt is correctly rounded and therefore bit-identical in the JVM and
    * DuckDB — and everything downstream is 64-bit integer arithmetic:
    * quotas are largest-remainder apportionment (base = B·w div W, the
    * B − Σbase leftover seats go to the largest B·w mod W, ties broken by
    * source name). No float ever touches an allocation decision, so the
    * mix is reproducible anywhere. Sampling is without replacement: a
    * quota exceeding its source's size yields the whole source (the rank
    * filter runs out of rows), which under-spends the budget — production
    * repeats small sources across epochs instead of duplicating rows.
    *
    * Plan shape: per-source counts are one partial-aggregated groupBy over
    * the scan; the apportionment runs on that ~|sources|-row table (window
    * over a constant partition — trivially small); the quota table then
    * broadcasts back onto documents and the per-source rank is the q70
    * window. Two scans of documents (count pass + sample pass), one
    * shuffle each — at 100 TB the count pass is a metadata-sized
    * aggregate. */
  def q71SourceMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 200L
    val docs = Tables(s, dir, "documents")
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt($"n_docs".cast("double"))).cast("long"))
    val all = Window.partitionBy(lit(1))
    val byRem = Window.partitionBy(lit(1)).orderBy($"rem".desc, $"source")
    val quotas = counts
      .withColumn("w_total", sum($"weight").over(all))
      .withColumn("base", expr(s"($budget * weight) div w_total"))
      .withColumn("rem", ($"weight" * budget) % $"w_total")
      .withColumn("leftover", lit(budget) - sum($"base").over(all))
      .withColumn("bump",
        when(row_number().over(byRem) <= $"leftover", 1L).otherwise(0L))
      .withColumn("quota", $"base" + $"bump")
      .select($"source", $"n_docs", $"weight", $"quota")
    val w = Window.partitionBy($"source").orderBy($"rand_key", $"doc_id")
    docs.select($"source", $"doc_id")
      .withColumn("rand_key", md5($"doc_id".cast("string")))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .join(broadcast(quotas), "source")
      .filter($"sample_rank" <= $"quota")
      .select($"source", $"n_docs", $"weight", $"quota", $"sample_rank", $"doc_id")
      .orderBy($"source", $"sample_rank")
  }

  val q71Oracle: String =
    """WITH counts AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM documents GROUP BY source),
      |apportion AS (
      |  SELECT source, n_docs, weight,
      |    (200 * weight) // SUM(weight) OVER () AS base,
      |    (200 * weight) % SUM(weight) OVER () AS rem
      |  FROM counts),
      |quotas AS (
      |  SELECT source, n_docs, weight,
      |    CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
      |      <= 200 - SUM(base) OVER () THEN 1 ELSE 0 END AS BIGINT) AS quota
      |  FROM apportion),
      |ranked AS (
      |  SELECT source, doc_id,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
      |  FROM documents)
      |SELECT q.source, q.n_docs, q.weight, q.quota, r.sample_rank, r.doc_id
      |FROM ranked r JOIN quotas q ON r.source = q.source
      |WHERE r.sample_rank <= q.quota
      |ORDER BY q.source, r.sample_rank""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Distribution-based length-outlier filtering: per language, the docs
    * above the exact 99th length percentile. The percentile is RANK
    * arithmetic, never interpolation: a doc is an outlier iff
    * `rank · 100 > 99 · n` over the total (n_chars, doc_id) order — pure
    * integers, so the cut is identical in any engine (float quantile
    * interpolation differs in formula shape between engines and is the
    * classic oracle-mismatch trap). One shuffle on lang; the window is
    * rank-only so state per stratum is O(1). */
  def q74LengthOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"n_chars", $"doc_id")
    val wn = Window.partitionBy($"lang")
    Tables(s, dir, "documents")
      .withColumn("len_rank", row_number().over(w).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(wn))
      .filter($"len_rank" * 100 > $"n_docs" * 99)
      .select($"lang", $"len_rank", $"doc_id", $"n_chars", $"n_docs")
      .orderBy($"lang", $"len_rank")
  }

  val q74Oracle: String =
    """SELECT lang, len_rank, doc_id, n_chars, n_docs FROM (
      |  SELECT lang, doc_id, n_chars,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS len_rank,
      |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
      |  FROM documents)
      |WHERE len_rank * 100 > n_docs * 99
      |ORDER BY lang, len_rank""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Token-budget shard packing — the pretraining-prep step that lays
    * documents into fixed-capacity training shards: within each source
    * stream, docs are ordered by md5(doc_id) (the reproducible shuffle)
    * and packed contiguously into 2048-token shards; a doc's shard is
    * where its first token lands (`(cum − n_tokens) div 2048` over the
    * running sum — integer arithmetic, straddling allowed, zero wasted
    * tokens).
    *
    * Scale honesty: a running sum is sequential PER STREAM — the plan is
    * one shuffle on source and a linear pass per partition, which is
    * exactly how production packs (independent (source, day) substreams
    * give the parallelism; the per-stream pass is unavoidable and cheap).
    */
  def q75TokenPacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"rand_key", $"doc_id")
    Tables(s, dir, "documents")
      .withColumn("n_tokens", size(TextFns.tokens($"text")).cast("long"))
      .withColumn("rand_key", md5($"doc_id".cast("string")))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .withColumn("shard", expr("(cum_tokens - n_tokens) div 2048"))
      .select($"source", $"shard", $"doc_id", $"n_tokens", $"cum_tokens")
      .orderBy($"source", $"cum_tokens", $"doc_id")
  }

  val q75Oracle: String =
    """SELECT source, shard, doc_id, n_tokens, cum_tokens FROM (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |    (CAST(SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens) // 2048 AS shard
      |  FROM (SELECT source, doc_id,
      |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |        FROM documents))
      |ORDER BY source, cum_tokens, doc_id""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Hashing-trick embedding table size and hidden width for the q79
    * classifier. 2¹⁶ buckets × 8 dims keeps every LCG index below 2¹⁹, far
    * from both engines' integer-exactness limits. */
  val ClsBuckets = 65536L
  val ClsHidden = 8

  /** Deterministic LCG weight in [−0.5, 0.5) — the same generator family
    * as the LSH planes (Similarity.planeVal), indexed flat. Integer-exact
    * in both engines; mirrored by [[Sql.lcg]]. */
  private def lcgVal(idx: Column): Column =
    ((lit(1103515245L) * idx + lit(12345L)) % lit(2147483648L)).cast("double") /
      lit(2147483648.0) - lit(0.5)

  /** Model-based quality-classifier INFERENCE (the fastText shape used for
    * GPT-3/LLaMA-style quality filtering): each token embeds via the
    * hashing trick (djb2 token hash → one of [[ClsBuckets]] rows of an
    * 8-dim table), the document vector is the token-order mean, and a
    * linear head scores it — here with a deterministically "trained"
    * LCG-generated weight table so inference is reproducible in any engine
    * (production swaps in real learned weights; the plan is identical).
    *
    * Scale shape: pure map-side — tokenize, hash, fold, dot — one codegen'd
    * scan projection, no shuffle, no model broadcast beyond the head (the
    * embedding table is a FORMULA here; a learned table would broadcast
    * ~2 MB, the same bounded-metadata class as q59's centroids).
    *
    * Determinism discipline: every fold is left-to-right from a 0.0 seed in
    * token order (hs preserves position); weights derive from integer-exact
    * LCG arithmetic; the head sum is an explicit left-associated chain
    * mirrored verbatim in the oracle. */
  /** The q79 inference projection over ANY frame with a `text` column —
    * factored (the qualityScored discipline) so q175's calibration audit
    * scores with the LITERAL registered expressions. Adds `n_tokens`,
    * `score`, `is_quality`; drops empty docs and the intermediate cols. */
  private[ops] def classifierScored(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .withColumn("hs", HashFns.shingleHashes(TextFns.tokens($"text"), 1))
      .filter(size($"hs") > 0)
      .withColumn("n_tokens", size($"hs").cast("long"))
    val withHidden = (0 until ClsHidden).foldLeft(base) { (df, j) =>
      df.withColumn(s"hid_$j",
        aggregate($"hs", lit(0.0), (acc, h) =>
          acc + lcgVal(pmod(h, lit(ClsBuckets)) * 8 + lit(j.toLong)))
          / $"n_tokens".cast("double"))
    }
    val z = (0 until ClsHidden).foldLeft(lit(0.0): Column) { (acc, j) =>
      acc + lcgVal(lit(524288L + j)) * col(s"hid_$j")
    }
    withHidden.withColumn("score", z)
      .withColumn("is_quality", $"score" > 0.0)
      .drop("hs" +: (0 until ClsHidden).map(j => s"hid_$j"): _*)
  }

  def q79QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    classifierScored(Tables(s, dir, "documents").select($"doc_id", $"text"))
      .select($"doc_id", $"n_tokens", $"score", $"is_quality")
      .orderBy($"doc_id")
  }

  val q79Oracle: String = {
    def hid(j: Int): String =
      s"list_reduce(list_prepend(0.0, list_transform(hs, h -> " +
        s"${Sql.lcg(s"(h % $ClsBuckets) * 8 + $j")})), (qa, qb) -> qa + qb) / " +
        "CAST(n_tokens AS DOUBLE)"
    val z = "0.0 + " + (0 until ClsHidden)
      .map(j => s"${Sql.lcg(s"524288 + $j")} * hid_$j").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
       |hsx AS (SELECT doc_id, list_transform(tokens, t -> ${Sql.djb2("t")}) AS hs,
       |        CAST(len(tokens) AS BIGINT) AS n_tokens FROM tok WHERE len(tokens) > 0),
       |hidt AS (SELECT doc_id, n_tokens,
       |         ${(0 until ClsHidden).map(j => s"${hid(j)} AS hid_$j").mkString(",\n         ")}
       |         FROM hsx)
       |SELECT doc_id, n_tokens, ($z) AS score, (($z) > 0.0) AS is_quality
       |FROM hidt ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q80
  /** Leakage-safe train/val/test split: every document is assigned a split
    * by the md5 of its NEAR-DUP CLUSTER representative, not of itself — so
    * a whole duplicate family always lands in the same split and a
    * val/test member can never leak a train member's content (the classic
    * split-leakage bug that inflates eval numbers). Singletons are their
    * own cluster. Buckets are hex-prefix ranges of the md5 ('cc' ≈ 80%,
    * 'e6' ≈ 90%) — pure string comparison, identical in any engine, and
    * the assignment is reproducible under any partitioning (the q70
    * property, inherited from md5 determinism).
    *
    * Plan shape: the cluster labels are the materialized q60 CC output
    * (the staged pipeline asset, as q62/q64 consume it); the assignment
    * itself is one left join + a map-side md5 projection. */
  def q80ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Dedup.cachedDupLabels(s, dir)
      .select($"doc_id", $"cluster".as("cc_cluster"))
    Tables(s, dir, "documents").select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"cc_cluster", $"doc_id"))
      .withColumn("rep_key", md5($"cluster".cast("string")))
      .withColumn("split",
        when($"rep_key" < "cc", "train")
          .when($"rep_key" < "e6", "val")
          .otherwise("test"))
      .select($"doc_id", $"cluster", $"split")
      .orderBy($"doc_id")
  }

  val q80Oracle: String =
    s"""WITH cc AS (${Dedup.q60OracleNoOrder}),
       |assigned AS (
       |  SELECT d.doc_id, COALESCE(cc.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id)
       |SELECT doc_id, cluster,
       |  CASE WHEN md5(CAST(cluster AS VARCHAR)) < 'cc' THEN 'train'
       |       WHEN md5(CAST(cluster AS VARCHAR)) < 'e6' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM assigned ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Near-dup-aware (transitive) decontamination: a corpus document is
    * excluded iff its near-dup CLUSTER contains any directly-contaminated
    * doc (q68's n-gram collision rule) — a direct hit's edited twin can
    * carry the same memorized benchmark content while dodging the n-gram
    * match, so exclusion must close over the duplicate family (the same
    * composition discipline as q80's split). Output is the exclusion list
    * with the audit trail: which cluster, and whether the doc itself hit.
    *
    * Plan shape: q68's hit set — the session-cached checkpoint
    * ([[cachedEvalHits]]), already collision-proportional — joins the
    * materialized CC labels; the contaminated-cluster set is tiny and the
    * final semi-join is keyed on cluster id. */
  def q81TransitiveDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val direct = cachedEvalHits(s, dir)
      .select($"doc_id", lit(true).as("direct_hit"))
    val labels = Dedup.cachedDupLabels(s, dir)
      .select($"doc_id", $"cluster".as("cc_cluster"))
    val corpus = Tables(s, dir, "documents")
      .filter($"doc_id" % 97 =!= 0).select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"cc_cluster", $"doc_id"))
    val contamClusters = corpus.join(direct.select($"doc_id"), "doc_id")
      .select($"cluster").distinct()
    corpus.join(contamClusters, Seq("cluster"), "left_semi")
      .join(direct, Seq("doc_id"), "left")
      .withColumn("direct_hit", coalesce($"direct_hit", lit(false)))
      .select($"doc_id", $"cluster", $"direct_hit")
      .orderBy($"doc_id")
  }

  val q81Oracle: String =
    s"""WITH cc AS (${Dedup.q60OracleNoOrder}),
       |direct AS (SELECT doc_id FROM (${q68OracleNoOrder}) x),
       |corpus AS (
       |  SELECT d.doc_id, COALESCE(cc.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
       |  WHERE d.doc_id % 97 <> 0),
       |contam_clusters AS (
       |  SELECT DISTINCT c.cluster FROM corpus c JOIN direct USING (doc_id))
       |SELECT c.doc_id, c.cluster,
       |  (c.doc_id IN (SELECT doc_id FROM direct)) AS direct_hit
       |FROM corpus c
       |WHERE c.cluster IN (SELECT cluster FROM contam_clusters)
       |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Bigram language-model training counts — the table a KenLM-style
    * quality scorer is trained FROM (q69 consumes hashed bigram stats for
    * rarity; this materializes the model itself): every adjacent token
    * pair with its count, its context count (occurrences of w1 as a
    * bigram start — the MLE denominator), and the conditional probability
    * P(w2|w1) = pair/ctx. Top-30 by count for the gateable view; the
    * unlimited table is the training artifact.
    *
    * Plan shape: the bigram explode is map-side (arrays_zip over two
    * slices — each generated row carries one 2-token struct, never the
    * doc); pair and context counts are partial-aggregated shuffles
    * (vocabulary²- and vocabulary-sized); the final join co-partitions on
    * w1. The MLE division is the single float op, one per surviving row —
    * everything upstream is int64 counting, so partitioning cannot
    * reorder anything observable. */
  def q107LmBigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextFns.tokens($"text")
    val bg = Tables(s, dir, "documents")
      .select(explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as("p"))
      .select($"p.0".as("w1"), $"p.1".as("w2"))
    // The bigram table (vocab²-bounded — the LM artifact itself) is
    // MATERIALIZED once (q69's argument: the planner does not reuse the
    // exchange across consumers); context counts then DERIVE from it —
    // ctx(w1) = Σ_w2 pair_count — so the corpus is scanned exactly once
    // and the second aggregation runs over the model, not the data.
    val big = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("pair_count"))
      .localCheckpoint(true)
    val ctx = big.groupBy($"w1").agg(sum($"pair_count").as("ctx_count"))
    big.join(ctx, "w1")
      .withColumn("prob", $"pair_count".cast("double") / $"ctx_count".cast("double"))
      .orderBy($"pair_count".desc, $"w1", $"w2")
      .limit(30)
      .select($"w1", $"w2", $"pair_count", $"ctx_count", $"prob")
  }

  val q107Oracle: String =
    """WITH bg AS (
      |  SELECT tokens[CAST(i AS INTEGER)] AS w1,
      |    tokens[CAST(i AS INTEGER) + 1] AS w2
      |  FROM (SELECT tokens, unnest(range(1, len(tokens))) AS i
      |        FROM (SELECT string_split(text, ' ') AS tokens FROM documents))),
      |big AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
      |  FROM bg GROUP BY w1, w2),
      |ctx AS (
      |  SELECT w1, CAST(COUNT(*) AS BIGINT) AS ctx_count
      |  FROM bg GROUP BY w1)
      |SELECT w1, w2, pair_count, ctx_count,
      |  CAST(pair_count AS DOUBLE) / CAST(ctx_count AS DOUBLE) AS prob
      |FROM big JOIN ctx USING (w1)
      |ORDER BY pair_count DESC, w1, w2 LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- q108
  /** Cross-source content-overlap matrix — the governance number a corpus
    * owner reads before mixing sources ("how much of source B is already
    * in source A?"): for every source pair, the count of distinct 3-token
    * shingle hashes both contain, plus the shingle-set Jaccard. High
    * overlap means double-counting under the training mix (q71) and
    * understated dedup pressure across source boundaries.
    *
    * Plan shape: distinct (source, hash) is ONE partial-aggregated
    * shuffle; because each hash then appears at most |sources| times, the
    * hash self-join is output-bounded at C(|sources|, 2) rows per hash BY
    * CONSTRUCTION — no df-cap needed, unlike the per-document joins
    * (q51), because `source` is a bounded dimension, not a document key.
    * The pair aggregate and the size join are |sources|²-row metadata. */
  def q108SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Materialized once: three consumers (both self-join sides + sizes)
    // would otherwise each re-scan and re-distinct the corpus — this is
    // the per-source shingle-set artifact a production run writes to
    // storage anyway (q69's materialization argument).
    val sh = Tables(s, dir, "documents")
      .select($"source",
        explode(HashFns.shingleHashes(TextFns.tokens($"text"), 3)).as("h"))
      .distinct()
      .localCheckpoint(true)
    val shared = sh.select($"source".as("src_a"), $"h")
      .join(sh.select($"source".as("src_b"), $"h"), Seq("h"))
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("shared"))
    val sizes = sh.groupBy($"source").agg(count(lit(1)).as("n"))
    shared
      .join(broadcast(sizes.select($"source".as("src_a"), $"n".as("n_a"))), "src_a")
      .join(broadcast(sizes.select($"source".as("src_b"), $"n".as("n_b"))), "src_b")
      .withColumn("jaccard",
        $"shared".cast("double") / ($"n_a" + $"n_b" - $"shared").cast("double"))
      .select($"src_a", $"src_b", $"shared", $"n_a", $"n_b", $"jaccard")
      .orderBy($"src_a", $"src_b")
  }

  val q108Oracle: String = {
    val sh = s"unnest(list_transform(${Sql.shingles("tokens", 3)}, shing -> ${Sql.djb2("shing")}))"
    s"""WITH sh AS (
       |  SELECT DISTINCT source, h FROM (
       |    SELECT source, $sh AS h
       |    FROM (SELECT source, string_split(text, ' ') AS tokens FROM documents))),
       |shared AS (
       |  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS shared
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2),
       |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source)
       |SELECT src_a, src_b, shared, sa.n AS n_a, sb.n AS n_b,
       |  CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
       |FROM shared JOIN sizes sa ON sa.source = shared.src_a
       |            JOIN sizes sb ON sb.source = shared.src_b
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** The data card's ADDITIVE metrics over any (source, text) frame —
    * per-source docs/tokens/chars/short-doc counts. Shared verbatim by
    * q113's standing v1 card and the S14 streaming card seam
    * ([[graft.streaming.CardStream]]) so batch, incremental, and streaming
    * maintenance of the governance card run one code path. Sum-
    * decomposable by construction: partials from any row partition (a
    * micro-batch, a snapshot delta, a task) merge by plain addition. */
  def additiveCard(docs: DataFrame): DataFrame = {
    val nToks = size(split(col("text"), " ")).cast("long")
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(nToks).as("n_tokens"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      sum(when(nToks < 32, 1L).otherwise(0L)).as("short_docs"))
  }

  // ---------------------------------------------------------------- q111
  /** Per-source corpus data card — the "datasheet for a dataset"
    * governance table a training run reads before mixing sources: volume
    * (docs, tokens, chars), exact-duplicate exposure (docs whose content
    * hash appears more than once ANYWHERE in the corpus — cross-source
    * contamination counts, not just within-source), a short-doc count
    * (the q42-family quality gate's cheapest proxy), and the dominant
    * language with its share denominator. One row per source; every
    * number an exact integer except the one terminal dup_rate division.
    *
    * Plan: one shuffle on the 64-byte content hash (the corpus-wide dup
    * window — hash-partitioned, never text), one partial-agg shuffle on
    * source, and a |sources|·|langs|-bounded top-lang window; the three
    * legs reuse one scan via a shared projection. At 100 TB this is the
    * shape of the nightly corpus-audit job: metadata-sized output,
    * text never shuffles. */
  def q111DataCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = graft.functions.TextFns.tokens($"text")
    val base = Tables(s, dir, "documents")
      .select($"source", $"doc_id", $"lang",
        size(toks).cast("long").as("n_toks"),
        $"n_chars", sha2($"text", 256).as("content_hash"))
    val wHash = Window.partitionBy($"content_hash")
    val enriched = base
      .withColumn("hash_n", count(lit(1)).over(wHash))
    val perSource = enriched.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"n_toks").as("n_tokens"),
      sum($"n_chars").as("n_chars"),
      sum(when($"hash_n" > 1, 1L).otherwise(0L)).as("dup_docs"),
      sum(when($"n_toks" < 32, 1L).otherwise(0L)).as("short_docs"))
    val wLang = Window.partitionBy($"source")
      .orderBy($"lang_docs".desc, $"lang")
    val topLang = base.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("lang_docs"))
      .withColumn("rn", row_number().over(wLang))
      .filter($"rn" === 1)
      .select($"source", $"lang".as("top_lang"), $"lang_docs".as("top_lang_docs"))
    perSource.join(topLang, "source")
      .select($"source", $"n_docs", $"n_tokens", $"n_chars",
        $"dup_docs", $"short_docs",
        ($"dup_docs".cast("double") / $"n_docs".cast("double")).as("dup_rate"),
        $"top_lang", $"top_lang_docs")
      .orderBy($"source")
  }

  val q111Oracle: String =
    """WITH base AS (
      |  SELECT source, doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    n_chars, sha256(text) AS content_hash
      |  FROM documents),
      |enriched AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY content_hash) AS hash_n
      |  FROM base),
      |per_source AS (
      |  SELECT source,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |    CAST(SUM(CASE WHEN hash_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
      |    CAST(SUM(CASE WHEN n_toks < 32 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
      |  FROM enriched GROUP BY source),
      |top_lang AS (
      |  SELECT source, lang AS top_lang, lang_docs AS top_lang_docs FROM (
      |    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS lang_docs,
      |      row_number() OVER (PARTITION BY source
      |        ORDER BY COUNT(*) DESC, lang) AS rn
      |    FROM base GROUP BY source, lang) ranked
      |  WHERE rn = 1)
      |SELECT p.source, p.n_docs, p.n_tokens, p.n_chars, p.dup_docs,
      |  p.short_docs,
      |  CAST(p.dup_docs AS DOUBLE) / CAST(p.n_docs AS DOUBLE) AS dup_rate,
      |  t.top_lang, t.top_lang_docs
      |FROM per_source p JOIN top_lang t USING (source)
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q115
  /** The training-release manifest — the capstone composition, the table a
    * release engineer actually ships: every released document with its
    * split and (for train) its shard assignment, derived by running the
    * verified pipeline stages IN SEQUENCE on one plan:
    *   1. eligibility — q64's corpus gate (dedup representative ∩ quality
    *      ∩ non-repetitive), minus the eval slice (doc_id % 97 = 0 never
    *      ships) and minus q81's transitive-decontamination exclusions
    *      (a benchmark hit contaminates its whole near-dup cluster);
    *   2. split — q80's cluster-aware train/val/test (duplicate families
    *      never straddle a split);
    *   3. packing — q75's 2048-token contiguous shards, applied to the
    *      RELEASED train docs only (you pack what you ship), per source
    *      stream in md5 order; val/test carry shard = −1.
    * Every stage is the registered component reused verbatim (Spark side
    * AND oracle side), so the manifest cannot drift from the pieces it
    * composes — the whole-pipeline integration test, oracle-checked.
    *
    * Scale shape: the composition adds two keyed joins and one anti-join
    * on doc_id over the component plans (each already graded in
    * SCALE.md); the packing window runs per source over the released
    * train set. At 100 TB this is the nightly release job, and its
    * output — the manifest — is one row per released doc, the smallest
    * honest representation of a dataset release. */
  def q115ReleaseManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eligible = TextAnalysis.q64CorpusGate(s, dir).select($"doc_id")
      .filter($"doc_id" % 97 =!= 0)
      .join(q81TransitiveDecontam(s, dir).select($"doc_id"),
        Seq("doc_id"), "left_anti")
    val splits = q80ClusterSplit(s, dir).select($"doc_id", $"split")
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"source",
        size(graft.functions.TextFns.tokens($"text")).cast("long").as("n_tokens"))
    val base = eligible.join(splits, "doc_id").join(docs, "doc_id")
    val w = Window.partitionBy($"source").orderBy($"rand_key", $"doc_id")
    val train = base.filter($"split" === "train")
      .withColumn("rand_key", md5($"doc_id".cast("string")))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .withColumn("shard", expr("(cum_tokens - n_tokens) div 2048"))
      .select($"doc_id", $"shard", $"cum_tokens")
    base.join(train, Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"split", $"n_tokens",
        coalesce($"shard", lit(-1L)).as("shard"),
        coalesce($"cum_tokens", lit(-1L)).as("cum_tokens"))
      .orderBy($"doc_id")
  }

  /** Oracle: the component oracles embedded verbatim as derived tables,
    * composed with the same joins — the manifest's arithmetic is
    * bit-identical to the already-matching q64/q80/q81/q75 formulations. */
  val q115Oracle: String =
    s"""WITH eligible AS (
       |  SELECT g.doc_id FROM (${TextAnalysis.q64Oracle.replace("\n", "\n  ")}) g
       |  WHERE g.doc_id % 97 <> 0
       |    AND g.doc_id NOT IN (
       |      SELECT x.doc_id FROM (${q81Oracle.replace("\n", "\n      ")}) x)),
       |base AS (
       |  SELECT e.doc_id, d.source,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, s.split
       |  FROM eligible e
       |  JOIN documents d USING (doc_id)
       |  JOIN (${q80Oracle.replace("\n", "\n  ")}) s USING (doc_id)),
       |train AS (
       |  SELECT doc_id,
       |    CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       |    (CAST(SUM(n_tokens) OVER w AS BIGINT) - n_tokens) // 2048 AS shard
       |  FROM base WHERE split = 'train'
       |  WINDOW w AS (PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT b.doc_id, b.source, b.split, b.n_tokens,
       |  CAST(COALESCE(t.shard, -1) AS BIGINT) AS shard,
       |  CAST(COALESCE(t.cum_tokens, -1) AS BIGINT) AS cum_tokens
       |FROM base b LEFT JOIN train t USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Dedup savings report — the governance number that justifies the whole
    * dedup stack's compute bill: per source, how many documents and
    * tokens survive q62's kept corpus (one representative per exact +
    * near-dup group) and what fraction dedup removes. Read next to q111's
    * dup_docs (exact-hash exposure) this separates EXACT duplication from
    * the near-dup tail, and a source whose removed_frac spikes on a new
    * crawl is double-ingesting. The token accounting is what matters at
    * training time: removed TOKENS, not removed docs, is the compute
    * saved and the memorization risk avoided (q117's signal, aggregated
    * to the source level the mixing decision is made at).
    *
    * Scale shape: q62's kept corpus is the registered subplan reused
    * verbatim; the savings join is one left-semi on doc_id; the rollup is
    * a |sources|-row partial agg — the report rides on assets the
    * pipeline already stages. */
  def q118DedupSavings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kept = Dedup.q62DedupCorpus(s, dir).select($"doc_id")
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"source",
        size(graft.functions.TextFns.tokens($"text")).cast("long").as("n_toks"))
    val keptFlag = docs.join(kept.withColumn("kept", lit(1L)), Seq("doc_id"), "left")
    keptFlag.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(when($"kept".isNotNull, 1L).otherwise(0L)).as("n_docs_kept"),
        sum($"n_toks").as("n_tokens"),
        sum(when($"kept".isNotNull, $"n_toks").otherwise(0L)).as("n_tokens_kept"))
      .withColumn("removed_frac",
        ($"n_tokens" - $"n_tokens_kept").cast("double") / $"n_tokens".cast("double"))
      .select($"source", $"n_docs", $"n_docs_kept", $"n_tokens",
        $"n_tokens_kept", $"removed_frac")
      .orderBy($"source")
  }

  val q118Oracle: String =
    s"""WITH kept AS (SELECT doc_id FROM (${Dedup.q62OracleNoOrder.replace("\n", "\n  ")}) k),
       |flagged AS (
       |  SELECT d.source, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
       |    CASE WHEN kept.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept
       |  FROM documents d LEFT JOIN kept ON kept.doc_id = d.doc_id)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(kept) AS BIGINT) AS n_docs_kept,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN kept = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS n_tokens_kept,
       |  CAST(SUM(n_toks) - SUM(CASE WHEN kept = 1 THEN n_toks ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(n_toks) AS DOUBLE) AS removed_frac
       |FROM flagged GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q123
  /** Epoch-aware token-budget schedule — the data-constrained-scaling
    * planner (the Muennighoff-et-al. regime): when the training budget
    * exceeds the corpus, sources are REPEATED, but repetition past ~4
    * epochs stops buying loss, so the plan caps every source at 4 epochs
    * and reports what the cap leaves unspent. q71 answers "how do I
    * sample a budget SMALLER than the corpus"; q123 answers the opposite
    * regime — budget = 3× the corpus here (scale-invariant: derived from
    * the corpus itself, not a constant that goes stale at 100 TB).
    *
    * Per source: token mass, √-weight (q71's up-sampling temperature),
    * the largest-remainder proportional share of the budget (exact 64-bit
    * integer apportionment — base + remainder-ranked bump, Σshare =
    * budget by construction), the 4-epoch cap, the granted allocation,
    * epochs×100 in integer arithmetic, and the shortfall the cap refuses
    * to spend. Σshortfall > 0 is the headline: the budget is not fillable
    * under the repetition constraint — buy data, not compute.
    *
    * Scale shape: one token-count aggregation (partial-agg shuffle on
    * source), then ALL arithmetic over |sources| rows of metadata; the
    * windows are single-partition but |sources|-sized. Pure integers end
    * to end — no float division anywhere. */
  def q123EpochSchedule(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = Window.partitionBy(lit(1))
    val byRem = Window.partitionBy(lit(1)).orderBy($"rem".desc, $"source")
    Tables(s, dir, "documents")
      .select($"source", size(TextFns.tokens($"text")).cast("long").as("n"))
      .groupBy($"source").agg(sum($"n").as("n_tokens"))
      .withColumn("weight", floor(sqrt($"n_tokens".cast("double"))).cast("long"))
      .withColumn("budget", sum($"n_tokens").over(all) * 3)
      .withColumn("w_total", sum($"weight").over(all))
      // same q·w_total + r decomposition as q140 (review r11): the naive
      // budget·weight product leaves int64 near 10¹³ corpus tokens
      .withColumn("base",
        expr("(budget div w_total) * weight" +
          " + ((budget % w_total) * weight) div w_total"))
      .withColumn("rem", expr("((budget % w_total) * weight) % w_total"))
      .withColumn("leftover", $"budget" - sum($"base").over(all))
      .withColumn("bump",
        when(row_number().over(byRem) <= $"leftover", 1L).otherwise(0L))
      .withColumn("share", $"base" + $"bump")
      .withColumn("cap", $"n_tokens" * 4)
      .withColumn("alloc", least($"share", $"cap"))
      .withColumn("capped", $"share" > $"cap")
      .withColumn("epochs_pct", expr("(alloc * 100) div n_tokens"))
      .withColumn("shortfall", $"share" - $"alloc")
      .select($"source", $"n_tokens", $"weight", $"share", $"alloc",
        $"capped", $"epochs_pct", $"shortfall")
      .orderBy($"source")
  }

  val q123Oracle: String =
    """WITH counts AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |weighted AS (
      |  SELECT source, n_tokens,
      |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
      |  FROM counts),
      |app AS (
      |  SELECT source, n_tokens, weight,
      |    CAST(SUM(n_tokens) OVER () * 3 AS BIGINT) AS budget,
      |    CAST(SUM(weight) OVER () AS BIGINT) AS w_total
      |  FROM weighted),
      |based AS (
      |  SELECT *,
      |    (budget // w_total) * weight
      |      + ((budget % w_total) * weight) // w_total AS base,
      |    ((budget % w_total) * weight) % w_total AS rem
      |  FROM app),
      |shared AS (
      |  SELECT source, n_tokens, weight,
      |    CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
      |      <= budget - SUM(base) OVER () THEN 1 ELSE 0 END AS BIGINT) AS share
      |  FROM based)
      |SELECT source, n_tokens, weight, share,
      |  LEAST(share, n_tokens * 4) AS alloc,
      |  share > n_tokens * 4 AS capped,
      |  (LEAST(share, n_tokens * 4) * 100) // n_tokens AS epochs_pct,
      |  share - LEAST(share, n_tokens * 4) AS shortfall
      |FROM shared ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Semantic decontamination — q68's benchmark gate in EMBEDDING space:
    * a lexical n-gram check misses the paraphrased or translated twin of
    * an eval item, which is exactly the contamination a modern release
    * audit (GPT-4/Llama-style) hunts with embeddings. The eval slice is
    * the same deterministic carve as q68 (`vec_id % 97 == 0` here — in
    * production, the benchmark suite's own embeddings); every corpus
    * vector reports its max cosine against the eval set, how many eval
    * items sit inside the q54 semantic-twin radius (cos ≥ 0.35), and the
    * contamination flag. Unlike q68 this emits EVERY corpus vector, not
    * just hits — max_cos is the audit curve a release engineer thresholds
    * after the fact (the flag bakes in the default radius).
    *
    * Plan shape: the eval side is bounded by construction (a benchmark
    * suite, not a corpus sample) and BROADCAST; scoring is a map-side
    * cross join against that broadcast — the corpus never shuffles with
    * itself, candidates are |corpus|·|eval| evaluated but never
    * exchanged; the per-vector max/count aggregates collapse map-side
    * (partial agg) to one row per vector before the only shuffle. At
    * 100 TB this is a single pass over the embedding column. Both
    * aggregates are order-free (MAX over identically-computed doubles,
    * integer COUNT), so the oracle mirrors without fold discipline. */
  def q121SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val ev = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("eval_id"), $"embedding".as("ev_emb"))
    emb.filter($"vec_id" % 97 =!= 0)
      .crossJoin(broadcast(ev))
      .withColumn("cos", graft.functions.VecFns.cosine($"embedding", $"ev_emb"))
      .groupBy($"vec_id")
      .agg(max($"cos").as("max_cos"),
        sum(when($"cos" >= 0.35, 1L).otherwise(0L)).as("n_close"))
      .withColumn("contaminated", $"max_cos" >= 0.35)
      .select($"vec_id", $"max_cos", $"n_close", $"contaminated")
      .orderBy($"vec_id")
  }

  val q121Oracle: String = {
    val cos = Sql.cosine("c.embedding", "e.ev_emb")
    s"""WITH ev AS (
       |  SELECT vec_id AS eval_id, embedding AS ev_emb
       |  FROM embeddings WHERE vec_id % 97 = 0),
       |scored AS (
       |  SELECT c.vec_id, $cos AS cos
       |  FROM embeddings c CROSS JOIN ev e
       |  WHERE c.vec_id % 97 <> 0)
       |SELECT vec_id, MAX(cos) AS max_cos,
       |  CAST(SUM(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
       |  MAX(cos) >= 0.35 AS contaminated
       |FROM scored GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q140
  /** Per-language temperature-sampled budget — the multilingual rebalance
    * step (the mT5/XLM-R α-sampling regime): sampling languages
    * proportionally to their raw token mass starves tail languages, so
    * the mix is drawn with p_l ∝ n_l^α, α = 1/4 here (a stronger
    * flattening than q123's per-SOURCE √-weight — the two schedules
    * compose: sources within a language, languages within the release).
    * The budget is the corpus's own token total (a same-size resample),
    * apportioned exactly (largest-remainder over integer weights —
    * Σshare = budget by construction); ratio_pct = share·100 div n_l is
    * the per-language repetition factor the sampler enforces, and
    * `upsampled` flags the tail languages that train past one epoch.
    *
    * Float discipline: n^(1/4) = sqrt(sqrt(n)) — IEEE-754 requires sqrt
    * correctly rounded (unlike pow/exp/ln, which are libm-dependent and
    * banned here — q45's precedent), so floor(1000·sqrt(sqrt(n))) is
    * bit-identical in any engine; everything after the floor is exact
    * int64 apportionment (q123's discipline).
    *
    * Scale shape: one token-count partial-agg shuffle on lang; all
    * arithmetic after runs over |languages| rows of metadata
    * (single-partition windows over a bounded dimension). */
  def q140LanguageBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = Window.partitionBy(lit(1))
    val byRem = Window.partitionBy(lit(1)).orderBy($"rem".desc, $"lang")
    Tables(s, dir, "documents")
      .select($"lang", size(TextFns.tokens($"text")).cast("long").as("n"))
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"), sum($"n").as("n_tokens"))
      .withColumn("weight",
        floor(lit(1000.0) * sqrt(sqrt($"n_tokens".cast("double")))).cast("long"))
      .withColumn("budget", sum($"n_tokens").over(all))
      .withColumn("w_total", sum($"weight").over(all))
      // budget·weight overflows int64 near 10¹³ tokens (review r11) —
      // decompose budget = q·w_total + r exactly: (b·w) div s =
      // q·w + (r·w) div s and (b·w) mod s = (r·w) mod s, with every
      // intermediate ≤ max(q·w, s·w) ≪ 2⁶³ at any corpus scale
      .withColumn("base",
        expr("(budget div w_total) * weight" +
          " + ((budget % w_total) * weight) div w_total"))
      .withColumn("rem", expr("((budget % w_total) * weight) % w_total"))
      .withColumn("leftover", $"budget" - sum($"base").over(all))
      .withColumn("bump",
        when(row_number().over(byRem) <= $"leftover", 1L).otherwise(0L))
      .withColumn("share", $"base" + $"bump")
      .withColumn("ratio_pct", expr("(share * 100) div n_tokens"))
      .withColumn("upsampled", $"share" > $"n_tokens")
      .select($"lang", $"n_docs", $"n_tokens", $"weight", $"share",
        $"ratio_pct", $"upsampled")
      .orderBy($"lang")
  }

  val q140Oracle: String =
    """WITH counts AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang),
      |weighted AS (
      |  SELECT lang, n_docs, n_tokens,
      |    CAST(FLOOR(1000.0 * SQRT(SQRT(CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS weight
      |  FROM counts),
      |app AS (
      |  SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS budget,
      |    CAST(SUM(weight) OVER () AS BIGINT) AS w_total
      |  FROM weighted),
      |based AS (
      |  SELECT *,
      |    (budget // w_total) * weight
      |      + ((budget % w_total) * weight) // w_total AS base,
      |    ((budget % w_total) * weight) % w_total AS rem
      |  FROM app),
      |shared AS (
      |  SELECT lang, n_docs, n_tokens, weight,
      |    CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
      |      <= budget - SUM(base) OVER () THEN 1 ELSE 0 END AS BIGINT) AS share
      |  FROM based)
      |SELECT lang, n_docs, n_tokens, weight, share,
      |  (share * 100) // n_tokens AS ratio_pct,
      |  share > n_tokens AS upsampled
      |FROM shared ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q141
  /** Per-document bigram surprisal — the KenLM-style fluency filter over
    * q107's LM artifact: score every document by its mean conditional
    * surprisal under the corpus bigram model (the CCNet/Gopher "LM
    * perplexity" gate). The exact −log₂P(w2|w1) is a libm call (banned —
    * q45's precedent), so surprisal is QUANTIZED to the integer bit-length
    * of the inverse probability: len(bin(ctx div pair)) =
    * ⌊log₂(ctx/pair)⌋ + 1 bits — a whole-bit-resolution cross-entropy
    * that is pure int64 end to end and therefore bit-identical in any
    * engine, at the cost of ≤1 bit of per-bigram resolution (a gate
    * threshold is calibrated on the same quantized scale, so no decision
    * changes). No smoothing is needed in-corpus: every document bigram
    * exists in the model by construction (eval-side scoring would add it
    * at the join's null branch).
    *
    * Plan shape: the bigram explode is q107's map-side arrays_zip; the
    * pair table is MATERIALIZED once (the model artifact — q69/q107's
    * localCheckpoint discipline) and ctx counts derive from it, so the
    * corpus is scanned once for training and once for scoring; the
    * scoring join keys on (w1, w2) — vocabulary-bounded build side — and
    * the per-doc rollup is one integer partial-agg shuffle on doc_id.
    * Docs with fewer than two tokens have no bigrams and are absent by
    * construction (inner join), as in q69. */
  def q141BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextFns.tokens($"text")
    val bg = Tables(s, dir, "documents")
      .select($"doc_id", explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as("p"))
      .select($"doc_id", $"p.0".as("w1"), $"p.1".as("w2"))
    val pairs = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("pc"))
      .localCheckpoint(true)
    val ctx = pairs.groupBy($"w1").agg(sum($"pc").as("cc"))
    bg.join(pairs, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .withColumn("bits", length(bin(expr("cc div pc"))).cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"bits").as("surprisal_bits"))
      .withColumn("milli_bits_per_bigram",
        expr("(surprisal_bits * 1000) div n_bigrams"))
      .withColumn("is_fluent", $"milli_bits_per_bigram" < 2500L)
      .select($"doc_id", $"n_bigrams", $"surprisal_bits",
        $"milli_bits_per_bigram", $"is_fluent")
      .orderBy($"doc_id")
  }

  /** q141's CTE chain up to the per-doc integer rollup (`rolled` with
    * doc_id, n_bigrams, surprisal_bits) — shared with q146's data map. */
  private val q141Ctes: String =
    """bg AS (
      |  SELECT doc_id, tokens[CAST(i AS INTEGER)] AS w1,
      |    tokens[CAST(i AS INTEGER) + 1] AS w2
      |  FROM (SELECT doc_id, tokens, unnest(range(1, len(tokens))) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents))),
      |pairs AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pc FROM bg GROUP BY w1, w2),
      |ctx AS (
      |  SELECT w1, CAST(SUM(pc) AS BIGINT) AS cc FROM pairs GROUP BY w1),
      |scored AS (
      |  SELECT doc_id, CAST(length(bin(cc // pc)) AS BIGINT) AS bits
      |  FROM bg JOIN pairs USING (w1, w2) JOIN ctx USING (w1)),
      |rolled AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(bits) AS BIGINT) AS surprisal_bits
      |  FROM scored GROUP BY doc_id)""".stripMargin

  val q141Oracle: String =
    s"""WITH $q141Ctes
       |SELECT doc_id, n_bigrams, surprisal_bits,
       |  (surprisal_bits * 1000) // n_bigrams AS milli_bits_per_bigram,
       |  (surprisal_bits * 1000) // n_bigrams < 2500 AS is_fluent
       |FROM rolled ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Deterministic training-shard shuffle — the global permutation every
    * training run needs between curation and the data loader: documents
    * are dealt into 64 shards and ordered within each shard by an
    * engine-independent pseudo-random key, so the SAME corpus always
    * yields the SAME byte-identical shards (reproducible training, the
    * q70 md5-permutation discipline) with no cross-shard order coupling.
    * The key is md5(doc_id) (the fixed permutation); the shard is
    * djb2(key) mod 64 — a second independent hash so shard membership and
    * within-shard order do not correlate.
    *
    * Scale shape: ONE exchange (hash on shard) feeds per-shard
    * row_number windows — 64 independent sorts, each bounded by
    * |corpus|/64 (the terasort-per-shard shape; at 100 TB raise the
    * shard count with the corpus, keeping per-shard sorts in memory).
    * No global single-partition window anywhere: position is only ever
    * assigned WITHIN a shard. */
  /** q142's routing expressions — factored out and shared with the S18
    * streaming shard router, so batch and streaming shard MEMBERSHIP are
    * the same codegen'd expressions and cannot drift. */
  private[graft] def shardKey(docId: Column): Column = md5(docId.cast("string"))
  private[graft] def shardOf(key: Column, nShards: Long): Column =
    pmod(graft.functions.Djb2.djb2(key), lit(nShards))
  private[graft] val NShards = 64L

  def q142TrainingShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"shard").orderBy($"rand_key", $"doc_id")
    Tables(s, dir, "documents")
      .withColumn("rand_key", shardKey($"doc_id"))
      .withColumn("shard", shardOf($"rand_key", NShards))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"shard", $"pos", $"doc_id", $"rand_key")
      .orderBy($"shard", $"pos")
  }

  val q142Oracle: String = {
    val shard = Sql.pmod(Sql.djb2("md5(CAST(doc_id AS VARCHAR))"), 64)
    s"""SELECT shard, pos, doc_id, rand_key FROM (
       |  SELECT $shard AS shard,
       |    md5(CAST(doc_id AS VARCHAR)) AS rand_key, doc_id,
       |    CAST(row_number() OVER (PARTITION BY $shard
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
       |  FROM documents)
       |ORDER BY shard, pos""".stripMargin
  }

  // ---------------------------------------------------------------- q145
  /** Quality-weighted soft filter — the DCLM/FineWeb-style middle ground
    * between a hard quality gate (q64 keeps or drops at a threshold —
    * every borderline doc is an all-or-nothing call) and no filtering:
    * each document is kept with probability EQUAL to its q42 quality
    * score, decided by comparing the score against a deterministic
    * per-doc uniform draw. The "draw" is q142's engine-independent
    * hash chain — u = djb2(md5(doc_id)) mod 1000 — so the SAME corpus
    * always yields the SAME sample (reproducible-training discipline),
    * yet across documents the acceptance rate converges to the mean
    * quality score: low-quality text is down-weighted smoothly instead
    * of cliff-edged. The comparison is u < floor(score·1000) — one
    * float multiply+floor on an already-deterministic double, then pure
    * integer comparison: no boundary can move between engines.
    *
    * Scale shape: q42's map-side scoring projection + the hash draw in
    * the same projection; the filter decision is map-side; the only
    * exchange is the presentation ORDER BY. The score's threshold
    * resolution (1/1000) is the knob production tunes. */
  /** The q145 decision columns (u, accept_milli, kept) over any frame
    * carrying (doc_id, quality_score) — factored so the batch query and
    * the S19 streaming admission gate decide with the LITERAL same
    * expressions. */
  private[graft] def softFilterDecision(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.withColumn("u",
        pmod(graft.functions.Djb2.djb2(shardKey($"doc_id")), lit(1000L)))
      .withColumn("accept_milli", floor($"quality_score" * 1000.0).cast("long"))
      .withColumn("kept", $"u" < $"accept_milli")
  }

  def q145SoftFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    softFilterDecision(TextAnalysis.q42Quality(s, dir)
      .select($"doc_id", $"quality_score"))
      .select($"doc_id", $"quality_score", $"u", $"accept_milli", $"kept")
      .orderBy($"doc_id")
  }

  val q145Oracle: String = {
    val u = Sql.pmod(Sql.djb2("md5(CAST(doc_id AS VARCHAR))"), 1000)
    s"""SELECT doc_id, quality_score, $u AS u,
       |  CAST(FLOOR(quality_score * 1000.0) AS BIGINT) AS accept_milli,
       |  $u < CAST(FLOOR(quality_score * 1000.0) AS BIGINT) AS kept
       |FROM (${TextAnalysis.q42OracleNoOrder.replace("\n", "\n  ")}) q
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q146
  /** Corpus data map — the 2-D (quality × surprisal) census a release
    * review reads per source (the "data map" of dataset-cartography
    * practice, on corpus-level axes): quality decile from q42's score,
    * half-bit surprisal band from q141's quantized bigram
    * cross-entropy, doc and token counts per (source, band, band) cell.
    * The corners are the actionable quadrants — high-quality+fluent is
    * the keep set, low-quality+high-surprisal is noise, and
    * high-quality+HIGH-surprisal is where novel (or leaked) content
    * concentrates — and tracking cell mass across snapshots is the
    * doc-level drilldown q122's drift scalar cannot give.
    *
    * Band arithmetic: quality_band = min(⌊score·10⌋, 9) — one
    * float multiply+floor on the deterministic score; surprisal_band =
    * min(milli_bits div 500, 9) — pure integer. Both engines agree
    * bit for bit.
    *
    * Scale shape: the two scoring subplans are each one corpus pass
    * (q42 map-side; q141 train+score as registered); the doc-level join
    * keys on doc_id; the census is ONE partial-agg shuffle with
    * ≤ |sources|·100 surviving groups — the histogram IS the output
    * (q95/q106's contract). Docs without bigrams (< 2 tokens) are
    * absent by q141's construction — noted, not hidden. */
  def q146QualityMap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quality = TextAnalysis.q42Quality(s, dir)
      .select($"doc_id", $"quality_score", $"n_tokens")
    val surprisal = q141BigramSurprisal(s, dir)
      .select($"doc_id", $"milli_bits_per_bigram")
    val src = Tables(s, dir, "documents").select($"doc_id", $"source")
    quality.join(surprisal, "doc_id").join(src, "doc_id")
      .withColumn("q_band",
        least(floor($"quality_score" * 10.0).cast("long"), lit(9L)))
      .withColumn("s_band",
        least(expr("milli_bits_per_bigram div 500"), lit(9L)))
      .groupBy($"source", $"q_band", $"s_band")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .orderBy($"source", $"q_band", $"s_band")
  }

  val q146Oracle: String =
    s"""WITH $q141Ctes,
       |q AS (${TextAnalysis.q42OracleNoOrder.replace("\n", "\n  ")}),
       |cells AS (
       |  SELECT d.source,
       |    LEAST(CAST(FLOOR(q.quality_score * 10.0) AS BIGINT), 9) AS q_band,
       |    LEAST((r.surprisal_bits * 1000) // r.n_bigrams // 500, 9) AS s_band,
       |    q.n_tokens
       |  FROM q JOIN rolled r USING (doc_id) JOIN documents d USING (doc_id))
       |SELECT source, q_band, s_band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM cells GROUP BY source, q_band, s_band
       |ORDER BY source, q_band, s_band""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Packed training sequences — the concat-and-cut step between the
    * shard shuffle and the trainer: within each q142 shard, documents
    * are concatenated in their deterministic (rand_key) order and cut
    * into fixed 256-token sequences (2048+ in production — the fixture
    * size keeps multi-doc sequences AND straddling docs on the oracle's
    * books). One row per (sequence, contributing doc span): its offset
    * inside the sequence, its token count there, and whether the doc
    * BEGINS/ENDS in this sequence — exactly the metadata an
    * attention-masking loader needs to reset attention at document
    * boundaries inside a packed sequence (the GPT-style packing
    * contract). q75 packs WHOLE docs greedily into elastic bins; q147
    * is the complementary regime — fixed-width sequences, docs split
    * across boundaries, zero padding waste by construction except the
    * final partial sequence per shard.
    *
    * Scale shape: ONE exchange (hash on shard — q142's) feeds the
    * per-shard running-sum window (cum_start/cum_end are int64 prefix
    * sums); the span explode is MAP-SIDE integer interval arithmetic
    * (sequence(cs div S, (ce−1) div S) — each doc emits ≤ 1 + dl/S
    * rows, amplification bounded by construction); everything after the
    * window is a projection. Position is only ever assigned WITHIN a
    * shard — no global window (q142's rule). */
  def q147PackedSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seqLen = 256L
    val w = Window.partitionBy($"shard").orderBy($"rand_key", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "documents")
      .select($"doc_id", size(TextFns.tokens($"text")).cast("long").as("dl"))
      .withColumn("rand_key", shardKey($"doc_id"))
      .withColumn("shard", shardOf($"rand_key", NShards))
      .withColumn("ce", sum($"dl").over(w))
      .withColumn("cs", $"ce" - $"dl")
      .withColumn("seq_idx",
        explode(expr(s"sequence(cs div $seqLen, (ce - 1) div $seqLen)")))
      .withColumn("tok_start", greatest($"cs", $"seq_idx" * seqLen))
      .withColumn("tok_end", least($"ce", ($"seq_idx" + 1L) * seqLen))
      .select($"shard", $"seq_idx",
        ($"tok_start" - $"seq_idx" * seqLen).as("offset_in_seq"),
        $"doc_id", ($"tok_end" - $"tok_start").as("n_toks"),
        ($"tok_start" === $"cs").as("begins"),
        ($"tok_end" === $"ce").as("ends"))
      .orderBy($"shard", $"seq_idx", $"offset_in_seq")
  }

  /** q147's CTE chain (cum + spans — one row per (doc, covered
    * sequence) with cs/ce interval bounds) — shared with q150's
    * curriculum roll-up. */
  private val q147Ctes: String = {
    val shard = Sql.pmod(Sql.djb2("md5(CAST(doc_id AS VARCHAR))"), 64)
    s"""cum AS (
       |  SELECT doc_id, $shard AS shard,
       |    CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY $shard
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ce,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |spans AS (
       |  SELECT shard, doc_id, ce - dl AS cs, ce,
       |    unnest(range((ce - dl) // 256, (ce - 1) // 256 + 1)) AS seq_idx
       |  FROM cum)""".stripMargin
  }

  val q147Oracle: String =
    s"""WITH $q147Ctes
       |SELECT shard, seq_idx,
       |  GREATEST(cs, seq_idx * 256) - seq_idx * 256 AS offset_in_seq,
       |  doc_id,
       |  LEAST(ce, (seq_idx + 1) * 256) - GREATEST(cs, seq_idx * 256) AS n_toks,
       |  GREATEST(cs, seq_idx * 256) = cs AS begins,
       |  LEAST(ce, (seq_idx + 1) * 256) = ce AS ends
       |FROM spans
       |ORDER BY shard, seq_idx, offset_in_seq""".stripMargin

  // ---------------------------------------------------------------- q150
  /** Sequence-curriculum schedule — the easy-to-hard ordering a
    * curriculum-learning run feeds its loader: every q147 packed
    * sequence scored by the token-weighted mean of its member docs' q141
    * bigram surprisal (a sequence inherits difficulty from what is
    * packed into it), then ranked easy→hard WITHIN each shard, so every
    * loader worker walks its own shard in difficulty order without any
    * cross-shard coordination. All integer arithmetic: the weight is
    * Σ span_tokens·doc_milli_bits, the mean is one int64 division, ties
    * break on seq_idx. Docs with no bigram score (single-token — absent
    * from q141 by construction) contribute weight 0, an explicit
    * trivially-fluent default.
    *
    * Scale shape: the span table is q147's (ONE shard exchange, bounded
    * map-side explode); the surprisal join keys on doc_id against the
    * q141 rollup; the per-sequence aggregation groups on
    * (shard, seq_idx) — clustering keys a superset of the shard hash, no
    * new exchange (the q139 rule); the curriculum window is per-shard.
    * No global window anywhere. */
  def q150Curriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sup = q141BigramSurprisal(s, dir)
      .select($"doc_id", $"milli_bits_per_bigram")
    val wC = Window.partitionBy($"shard").orderBy($"mean_milli", $"seq_idx")
    q147PackedSequences(s, dir)
      .select($"shard", $"seq_idx", $"doc_id", $"n_toks")
      .join(sup, Seq("doc_id"), "left")
      .withColumn("m", coalesce($"milli_bits_per_bigram", lit(0L)))
      .groupBy($"shard", $"seq_idx")
      .agg(sum($"n_toks").as("seq_tokens"),
        sum($"n_toks" * $"m").as("surprisal_weight"))
      .withColumn("mean_milli", expr("surprisal_weight div seq_tokens"))
      .withColumn("curriculum_rank", row_number().over(wC).cast("long"))
      .select($"shard", $"curriculum_rank", $"seq_idx", $"seq_tokens",
        $"surprisal_weight", $"mean_milli")
      .orderBy($"shard", $"curriculum_rank")
  }

  val q150Oracle: String =
    s"""WITH $q141Ctes,
       |$q147Ctes,
       |sp AS (
       |  SELECT shard, seq_idx, doc_id,
       |    LEAST(ce, (seq_idx + 1) * 256) - GREATEST(cs, seq_idx * 256) AS n_toks
       |  FROM spans),
       |sc AS (
       |  SELECT sp.shard, sp.seq_idx, sp.n_toks,
       |    COALESCE((r.surprisal_bits * 1000) // r.n_bigrams, 0) AS m
       |  FROM sp LEFT JOIN rolled r USING (doc_id)),
       |agg AS (
       |  SELECT shard, seq_idx, CAST(SUM(n_toks) AS BIGINT) AS seq_tokens,
       |    CAST(SUM(n_toks * m) AS BIGINT) AS surprisal_weight
       |  FROM sc GROUP BY shard, seq_idx)
       |SELECT shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY surprisal_weight // seq_tokens, seq_idx) AS BIGINT)
       |    AS curriculum_rank,
       |  seq_idx, seq_tokens, surprisal_weight,
       |  surprisal_weight // seq_tokens AS mean_milli
       |FROM agg ORDER BY shard, curriculum_rank""".stripMargin

  // ---------------------------------------------------------------- q154
  /** Length-bucketed batch PADDING audit — the other packing regime next
    * to q147: inference and SFT serving pad each fixed-size batch to its
    * longest member instead of splitting documents across sequence
    * boundaries, and padding waste is the number that grades the
    * bucketing policy. Documents are dealt to [[NWorkers]] loader workers
    * by q142's hash chain (deterministic, content-uncorrelated), bucketed
    * by token length (width 16), batched 8 at a time in the worker's
    * shuffled (rand_key) order — the standard bucketed-shuffle sampler —
    * and each batch pads to its max member length. One row per
    * (worker, bucket, batch): doc count, max/sum length, padded tokens,
    * integer-milli waste.
    *
    * Scale shape: ONE exchange — the batching window partitions on
    * (worker, bucket) and the roll-up groups on (worker, bucket,
    * batch_idx), whose clustering the window's hash partitioning already
    * satisfies, so Catalyst reuses the exchange (the q139 rule). Window
    * state is bounded by |corpus|/(workers·buckets); at 100 TB the worker
    * count is the loader's own parallelism knob — raise it with the
    * cluster and every per-window sort stays in memory (q142's rule:
    * position is only ever assigned within a worker's bucket, never
    * globally). */
  private[graft] val NWorkers = 4L

  def q154PaddingWaste(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"worker", $"bucket")
      .orderBy($"rand_key", $"doc_id")
    Tables(s, dir, "documents")
      .select($"doc_id", size(TextFns.tokens($"text")).cast("long").as("dl"))
      .withColumn("rand_key", shardKey($"doc_id"))
      .withColumn("worker", shardOf($"rand_key", NWorkers))
      .withColumn("bucket", expr("dl div 16"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_idx", expr("(rn - 1) div 8").cast("long"))
      .groupBy($"worker", $"bucket", $"batch_idx")
      .agg(count(lit(1)).as("n_docs"), max($"dl").as("max_dl"),
        sum($"dl").as("sum_toks"))
      .withColumn("padded_toks", $"n_docs" * $"max_dl")
      .withColumn("waste_milli",
        expr("((padded_toks - sum_toks) * 1000) div padded_toks"))
      .select($"worker", $"bucket", $"batch_idx", $"n_docs", $"max_dl",
        $"sum_toks", $"padded_toks", $"waste_milli")
      .orderBy($"worker", $"bucket", $"batch_idx")
  }

  val q154Oracle: String = {
    val worker = Sql.pmod(Sql.djb2("md5(CAST(doc_id AS VARCHAR))"), 4)
    s"""WITH dl AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    md5(CAST(doc_id AS VARCHAR)) AS rand_key, $worker AS worker
       |  FROM documents),
       |b AS (
       |  SELECT worker, dl // 16 AS bucket, dl,
       |    (row_number() OVER (PARTITION BY worker, dl // 16
       |       ORDER BY rand_key, doc_id) - 1) // 8 AS batch_idx
       |  FROM dl)
       |SELECT worker, bucket, batch_idx,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs, MAX(dl) AS max_dl,
       |  CAST(SUM(dl) AS BIGINT) AS sum_toks,
       |  CAST(COUNT(*) AS BIGINT) * MAX(dl) AS padded_toks,
       |  ((CAST(COUNT(*) AS BIGINT) * MAX(dl) - CAST(SUM(dl) AS BIGINT))
       |    * 1000) // (CAST(COUNT(*) AS BIGINT) * MAX(dl)) AS waste_milli
       |FROM b GROUP BY worker, bucket, batch_idx
       |ORDER BY worker, bucket, batch_idx""".stripMargin
  }

  // ---------------------------------------------------------------- q156
  /** DSIR-style hashed importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how much its hashed-unigram distribution looks
    * like a TARGET domain (here lang = 'en', the pipeline's
    * high-resource carve) versus the raw corpus — the importance weight
    * data-selection resamples by. Tokens hash into 1024 buckets
    * (djb2 — the engine's oracle-parity hash); the per-bucket weight is
    * the log-likelihood ratio log₂(p_target/p_raw), computed with
    * [[qlogMilli]] — a piecewise-linear integer log₂ in MILLI-bits
    * (q141's bit-length quantization refined with the linear remainder
    * term: (b−1)·1000 + (x−2^(b−1))·1000 div 2^(b−1), error ≤ 0.086
    * bits): log₂ ratios become qlog differences, add-one smoothed, pure
    * int64, no libm (q45's precedent), bit-identical in any engine. The
    * whole-bit form was measurably TOO coarse here — adjacent-language
    * bucket masses differ by well under 2×, and ±1-bit resolution rounds
    * every bucket's evidence to zero (found by this query's own spec).
    * Also — no products of large counts: the qlog-difference form never
    * multiplies totals, so nothing overflows at any corpus scale.
    *
    * Scale shape: the bucket hash is computed once per DISTINCT word
    * (vocab-sized map-side projection) and joins back to the token
    * stream; the raw and target censuses are partial-agg shuffles that
    * collapse to ≤ 1024 groups map-side; the 1024-row score table
    * broadcasts to the per-doc rollup (one integer shuffle on doc_id).
    * The two totals ride the same 1024-row table as unpartitioned window
    * sums — a single-partition window over METADATA, never the corpus. */
  /** Piecewise-linear integer log₂ in milli-bits — promoted to
    * [[Sql.qlogMilliSpark]]/[[Sql.qlogMilliDuck]] for reuse (q159's
    * byte-entropy gate); aliased here for the q156 call sites. */
  private def qlogMilliSpark(e: String): String = Sql.qlogMilliSpark(e)
  private def qlogMilliDuck(e: String): String = Sql.qlogMilliDuck(e)

  def q156DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .select($"doc_id", $"lang", explode(TextFns.tokens($"text")).as("word"))
    val vocab = toks.select($"word").distinct()
      .withColumn("bucket",
        pmod(graft.functions.Djb2.djb2($"word"), lit(1024L)))
    val tw = toks.join(vocab, "word")
    val raw = tw.groupBy($"bucket").agg(count(lit(1)).as("rc"))
    val tgt = tw.filter($"lang" === "en")
      .groupBy($"bucket").agg(count(lit(1)).as("tc"))
    val wAll = Window.partitionBy()
    val stats = raw.join(tgt, Seq("bucket"), "left")
      .withColumn("tc", coalesce($"tc", lit(0L)))
      .withColumn("r_tot", sum($"rc").over(wAll))
      .withColumn("t_tot", sum($"tc").over(wAll))
      .withColumn("score_milli",
        expr(s"${qlogMilliSpark("tc + 1")} - ${qlogMilliSpark("rc + 1")}" +
          s" + ${qlogMilliSpark("r_tot")} - ${qlogMilliSpark("t_tot")}"))
      .select($"bucket", $"score_milli")
    tw.join(broadcast(stats), "bucket")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"score_milli").as("dsir_milli_bits"))
      // dsir_milli_bits is SIGNED: make the rounding explicit (truncate
      // toward zero on the absolute value) — Spark's `div` truncates while
      // DuckDB's `//` floors, and they disagree exactly on negatives
      .withColumn("milli_bits_per_token",
        expr("""CASE WHEN dsir_milli_bits >= 0
                THEN dsir_milli_bits div n_tokens
                ELSE -((-dsir_milli_bits) div n_tokens) END"""))
      .withColumn("selected", $"dsir_milli_bits" > 0L)
      .select($"doc_id", $"n_tokens", $"dsir_milli_bits",
        $"milli_bits_per_token", $"selected")
      .orderBy($"doc_id")
  }

  val q156Oracle: String = {
    val bucket = Sql.pmod(Sql.djb2("word"), 1024)
    val score = s"${qlogMilliDuck("COALESCE(tc, 0) + 1")}" +
      s" - ${qlogMilliDuck("rc + 1")}" +
      s" + ${qlogMilliDuck("SUM(rc) OVER ()")}" +
      s" - ${qlogMilliDuck("SUM(COALESCE(tc, 0)) OVER ()")}"
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |vocab AS (
       |  SELECT word, $bucket AS bucket FROM (SELECT DISTINCT word FROM toks)),
       |tw AS (SELECT t.doc_id, t.lang, v.bucket FROM toks t JOIN vocab v USING (word)),
       |raw AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS rc FROM tw GROUP BY bucket),
       |tgt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tc FROM tw
       |        WHERE lang = 'en' GROUP BY bucket),
       |stats AS (
       |  SELECT bucket, CAST($score AS BIGINT) AS score_milli
       |  FROM raw LEFT JOIN tgt USING (bucket))
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(score_milli) AS BIGINT) AS dsir_milli_bits,
       |  CASE WHEN SUM(score_milli) >= 0
       |    THEN CAST(SUM(score_milli) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
       |    ELSE -(CAST(-SUM(score_milli) AS BIGINT)
       |      // CAST(COUNT(*) AS BIGINT)) END AS milli_bits_per_token,
       |  CAST(SUM(score_milli) AS BIGINT) > 0 AS selected
       |FROM tw JOIN stats USING (bucket)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q161
  /** Duplicate-aware LOSS WEIGHTS — the soft alternative to q62's hard
    * dedup: keep every document but down-weight each near-dup family so
    * its total training influence equals one copy (weight = 1/family
    * size, in integer milli — the "count duplicates once" regime a
    * pipeline reaches for when dropping is too aggressive, e.g. when
    * near-dups carry distinct metadata or the dedup threshold is
    * uncertain). Families are q60's standing CC labels (the staged
    * labels asset — built once per session, the cachedDupLabels
    * discipline); documents outside the pair graph are their own
    * singleton family at weight 1000. `weighted_tokens_milli` is the
    * doc's token mass under the weight — Σ over a family ≈ one copy's
    * mass (integer truncation documented: a family of 3 carries 999).
    *
    * Plan shape: one left join of the corpus against the labels asset on
    * doc_id, a cluster-keyed partial-agg size count, and a join back on
    * cluster — every exchange keyed on an 8-byte id; the weight
    * arithmetic is map-side int64. */
  def q161DupWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Dedup.cachedDupLabels(s, dir)
    val fam = Tables(s, dir, "documents")
      .select($"doc_id",
        size(TextFns.tokens($"text")).cast("long").as("n_toks"))
      .join(labels, Seq("doc_id"), "left")
      // a singleton's own id can never equal another component's label:
      // labels are component-minimum ids, and the doc is not a member
      .withColumn("cluster", coalesce($"cluster", $"doc_id"))
    val sizes = fam.groupBy($"cluster").agg(count(lit(1)).as("family_size"))
    fam.join(sizes, "cluster")
      .withColumn("weight_milli",
        expr("cast(1000 as bigint) div family_size"))
      .withColumn("weighted_tokens_milli", $"n_toks" * $"weight_milli")
      .select($"doc_id", $"cluster", $"family_size", $"n_toks",
        $"weight_milli", $"weighted_tokens_milli")
      .orderBy($"doc_id")
  }

  val q161Oracle: String =
    s"""WITH cc AS (${Dedup.q60OracleNoOrder.replace("\n", "\n  ")}),
       |fam AS (
       |  SELECT d.doc_id,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
       |    COALESCE(cc.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
       |sizes AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS family_size
       |  FROM fam GROUP BY cluster)
       |SELECT doc_id, cluster, family_size, n_toks,
       |  1000 // family_size AS weight_milli,
       |  n_toks * (1000 // family_size) AS weighted_tokens_milli
       |FROM fam JOIN sizes USING (cluster)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Duplicate-family-aware SHARD routing — q80's leakage-safe-split
    * discipline applied to the training loader: route every near-dup
    * family to ONE shard by hashing its q60 cluster label through the
    * q142 hash chain (md5 permutation + djb2 router — the literal shared
    * routing expressions), so shard-local work stays globally valid: a
    * per-worker dedup pass still sees every twin, a shard-local eval
    * carve cannot leak a near-copy into another worker's training
    * stream, and packing/curriculum never interleave a family across
    * loaders. The audit emits, per shard, the family-routed census
    * (docs, families) NEXT TO the q142 doc-routed one (docs, distinct
    * families touching the shard): under family routing
    * Σ fr_families = |families| exactly — no family spans two shards by
    * construction — while doc routing's Σ dr_fragments exceeds it by
    * every split family, which is the number this table exists to show.
    *
    * Plan shape: one left join against the standing CC labels on doc_id;
    * both shard assignments are map-side hash projections; each census
    * is a (shard, family) partial agg then a ≤ NShards-row rollup; the
    * final shard join is metadata-sized. */
  def q162FamilyShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fam = Tables(s, dir, "documents").select($"doc_id")
      .join(Dedup.cachedDupLabels(s, dir), Seq("doc_id"), "left")
      .withColumn("family", coalesce($"cluster", $"doc_id"))
      .withColumn("fshard", shardOf(shardKey($"family"), NShards))
      .withColumn("dshard", shardOf(shardKey($"doc_id"), NShards))
    val byFam = fam.groupBy($"fshard".as("shard"))
      .agg(count(lit(1)).as("fr_docs"),
        countDistinct($"family").as("fr_families"))
    val byDoc = fam.groupBy($"dshard".as("shard"))
      .agg(count(lit(1)).as("dr_docs"),
        countDistinct($"family").as("dr_fragments"))
    byFam.join(byDoc, Seq("shard"), "full_outer")
      .select($"shard",
        coalesce($"fr_docs", lit(0L)).as("fr_docs"),
        coalesce($"fr_families", lit(0L)).as("fr_families"),
        coalesce($"dr_docs", lit(0L)).as("dr_docs"),
        coalesce($"dr_fragments", lit(0L)).as("dr_fragments"))
      .orderBy($"shard")
  }

  val q162Oracle: String = {
    val fsh = Sql.pmod(Sql.djb2("md5(CAST(family AS VARCHAR))"), 64)
    val dsh = Sql.pmod(Sql.djb2("md5(CAST(doc_id AS VARCHAR))"), 64)
    s"""WITH cc AS (${Dedup.q60OracleNoOrder.replace("\n", "\n  ")}),
       |fam AS (
       |  SELECT d.doc_id, COALESCE(cc.cluster, d.doc_id) AS family
       |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
       |sh AS (
       |  SELECT doc_id, family, $fsh AS fshard, $dsh AS dshard FROM fam),
       |byfam AS (
       |  SELECT fshard AS shard, CAST(COUNT(*) AS BIGINT) AS fr_docs,
       |    CAST(COUNT(DISTINCT family) AS BIGINT) AS fr_families
       |  FROM sh GROUP BY fshard),
       |bydoc AS (
       |  SELECT dshard AS shard, CAST(COUNT(*) AS BIGINT) AS dr_docs,
       |    CAST(COUNT(DISTINCT family) AS BIGINT) AS dr_fragments
       |  FROM sh GROUP BY dshard)
       |SELECT shard,
       |  COALESCE(fr_docs, 0) AS fr_docs,
       |  COALESCE(fr_families, 0) AS fr_families,
       |  COALESCE(dr_docs, 0) AS dr_docs,
       |  COALESCE(dr_fragments, 0) AS dr_fragments
       |FROM byfam FULL OUTER JOIN bydoc USING (shard)
       |ORDER BY shard""".stripMargin
  }

  // ---------------------------------------------------------------- q168
  /** Pack-adjacency leakage audit — the tension between q162 and q147
    * made measurable: family-aware shard routing (q162) deliberately
    * CONCENTRATES near-dup twins into one shard so shard-local dedup and
    * eval carves stay globally valid, but the packer (q147) then draws
    * from that same shard stream, so twins have a materially higher
    * chance of landing in the SAME packed context window — where a
    * causal LM sees a near-copy of its context as its continuation (a
    * memorization amplifier) and in-batch contrastive negatives silently
    * become positives. The audit counts, under BOTH routings, the
    * family pairs that share a shard and the pairs that share a packed
    * sequence: under family routing same_shard == family_pairs by
    * construction (the q162 invariant, re-observed here), and the
    * same_seq column is the price paid for it — the number a pipeline
    * weighs against the dedup-visibility benefit before choosing its
    * routing (or adds a family-aware packer to fix).
    *
    * Plan shape: the pair sets are cluster-keyed self-joins
    * (Σ k²-bounded — collision-proportional, the q51 contract); pack
    * membership is the q147 cum-sum machinery (one window per routing,
    * partitioned by the shard being audited); everything aggregates to
    * TWO rows. */
  def q168PackLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seqLen = 256L
    val labels = Dedup.cachedDupLabels(s, dir)
    val base = Tables(s, dir, "documents")
      .select($"doc_id",
        size(graft.functions.TextFns.tokens($"text")).cast("long").as("dl"),
        shardKey($"doc_id").as("rand_key"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("family", coalesce($"cluster", $"doc_id"))
    val famPairs = labels.groupBy($"cluster").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L))
        .as("family_pairs"))
    def audit(routed: DataFrame, routing: String): DataFrame = {
      val w = Window.partitionBy($"shard").orderBy($"rand_key", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mem = routed
        .withColumn("ce", sum($"dl").over(w))
        .withColumn("cs", $"ce" - $"dl")
        .withColumn("seq_idx",
          explode(expr(s"sequence(cs div $seqLen, (ce - 1) div $seqLen)")))
        .filter($"cluster".isNotNull)
        .select($"shard", $"seq_idx", $"cluster", $"doc_id")
      val seqPairs = mem.as("a").join(mem.as("b"),
          $"a.shard" === $"b.shard" && $"a.seq_idx" === $"b.seq_idx" &&
            $"a.cluster" === $"b.cluster" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .distinct().agg(count(lit(1)).as("same_seq_pairs"))
      val sh = routed.filter($"cluster".isNotNull)
        .select($"shard", $"cluster", $"doc_id")
      val shardPairs = sh.as("a").join(sh.as("b"),
          $"a.shard" === $"b.shard" && $"a.cluster" === $"b.cluster" &&
            $"a.doc_id" < $"b.doc_id")
        .agg(count(lit(1)).as("same_shard_pairs"))
      famPairs.crossJoin(shardPairs).crossJoin(seqPairs)
        .select(lit(routing).as("routing"), $"family_pairs",
          $"same_shard_pairs", $"same_seq_pairs")
    }
    audit(base.withColumn("shard", shardOf($"rand_key", NShards)), "doc")
      .unionByName(audit(
        base.withColumn("shard", shardOf(shardKey($"family"), NShards)),
        "family"))
      .orderBy($"routing")
  }

  val q168Oracle: String = {
    val dshard = Sql.pmod(Sql.djb2("md5(CAST(doc_id AS VARCHAR))"), 64)
    val fshard = Sql.pmod(Sql.djb2("md5(CAST(family AS VARCHAR))"), 64)
    def side(shardExpr: String, routing: String): String =
      s"""SELECT '$routing' AS routing,
         |  (SELECT fp FROM fampairs) AS family_pairs,
         |  (SELECT CAST(COUNT(*) AS BIGINT)
         |   FROM (SELECT $shardExpr AS shard, cluster, doc_id FROM fam
         |         WHERE cluster IS NOT NULL) a
         |   JOIN (SELECT $shardExpr AS shard, cluster, doc_id FROM fam
         |         WHERE cluster IS NOT NULL) b
         |     ON a.shard = b.shard AND a.cluster = b.cluster
         |        AND a.doc_id < b.doc_id) AS same_shard_pairs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
         |     SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |     FROM (SELECT * FROM mem_$routing WHERE cluster IS NOT NULL) a
         |     JOIN (SELECT * FROM mem_$routing WHERE cluster IS NOT NULL) b
         |       ON a.shard = b.shard AND a.seq_idx = b.seq_idx
         |          AND a.cluster = b.cluster AND a.doc_id < b.doc_id))
         |    AS same_seq_pairs""".stripMargin
    def mem(shardExpr: String, routing: String): String =
      s"""mem_$routing AS (
         |  SELECT shard, cluster, doc_id, ce - dl AS cs, ce,
         |    unnest(range((ce - dl) // 256, (ce - 1) // 256 + 1)) AS seq_idx
         |  FROM (
         |    SELECT $shardExpr AS shard, cluster, doc_id, dl,
         |      CAST(SUM(dl) OVER (PARTITION BY $shardExpr
         |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ce
         |    FROM fam))""".stripMargin
    s"""WITH cc AS (${Dedup.q60OracleNoOrder.replace("\n", "\n  ")}),
       |fam AS (
       |  SELECT d.doc_id,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS dl,
       |    cc.cluster, COALESCE(cc.cluster, d.doc_id) AS family
       |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
       |fampairs AS (
       |  SELECT CAST(COALESCE(SUM(k * (k - 1) // 2), 0) AS BIGINT) AS fp
       |  FROM (SELECT COUNT(*) AS k FROM fam
       |        WHERE cluster IS NOT NULL GROUP BY cluster)),
       |${mem(dshard, "doc")},
       |${mem(fshard, "family")}
       |${side(dshard, "doc")}
       |UNION ALL
       |${side(fshard, "family")}
       |ORDER BY routing""".stripMargin
  }

  // ---------------------------------------------------------------- q169
  /** Quality-aware representative election — the upgrade production
    * dedup applies to q62's min-doc_id rule: within each near-dup
    * family, KEEP THE BEST COPY (argmax q42 quality score, doc_id
    * tie-break), because near-dup families routinely mix a clean
    * original with truncated/boilerplate-wrapped variants, and electing
    * by id keeps whichever crawled first. One row per multi-member
    * family: both elections side by side, whether they differ, and the
    * score gained — the corpus-quality delta that justifies (or not)
    * re-running dedup with the smarter rule.
    *
    * Plan shape: one join of the standing CC labels against the q42
    * score projection on doc_id; both elections are ONE window
    * (row_number per family under each order) over family-sized groups;
    * output is |families| rows. Scores are the q42 doubles — computed
    * by the identical expression in both engines (the q42 hash-match),
    * so the argmax and the emitted deltas are bit-stable. */
  def q169BestRep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = TextAnalysis.qualityScored(Tables(s, dir, "documents"))
      .select($"doc_id", $"quality_score")
    val m = Dedup.cachedDupLabels(s, dir).join(scored, "doc_id")
    val wBest = Window.partitionBy($"cluster")
      .orderBy($"quality_score".desc, $"doc_id")
    val best = m.withColumn("rn", row_number().over(wBest))
      .filter($"rn" === 1)
      .select($"cluster", $"doc_id".as("rep_best"),
        $"quality_score".as("best_score"))
    val byMin = m.groupBy($"cluster")
      .agg(count(lit(1)).as("family_size"), min($"doc_id").as("rep_min"))
    byMin.join(best, "cluster")
      .join(scored.select($"doc_id".as("rep_min"),
        $"quality_score".as("min_rep_score")), "rep_min")
      .filter($"family_size" >= 2)
      .select($"cluster", $"family_size", $"rep_min", $"rep_best",
        ($"rep_best" =!= $"rep_min").as("changed"),
        $"min_rep_score", $"best_score",
        ($"best_score" - $"min_rep_score").as("gain"))
      .orderBy($"cluster")
  }

  val q169Oracle: String =
    s"""WITH cc AS (${Dedup.q60OracleNoOrder.replace("\n", "\n  ")}),
       |q AS (SELECT doc_id, quality_score
       |  FROM (${TextAnalysis.q42OracleNoOrder.replace("\n", "\n  ")})),
       |m AS (SELECT cc.cluster, cc.doc_id, q.quality_score
       |  FROM cc JOIN q USING (doc_id)),
       |best AS (
       |  SELECT cluster, doc_id AS rep_best, quality_score AS best_score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster
       |          ORDER BY quality_score DESC, doc_id) AS rn FROM m)
       |  WHERE rn = 1),
       |bymin AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS family_size,
       |    MIN(doc_id) AS rep_min
       |  FROM m GROUP BY cluster)
       |SELECT b.cluster, b.family_size, b.rep_min, t.rep_best,
       |  t.rep_best <> b.rep_min AS changed,
       |  mq.quality_score AS min_rep_score, t.best_score,
       |  t.best_score - mq.quality_score AS gain
       |FROM bymin b
       |JOIN best t USING (cluster)
       |JOIN q mq ON mq.doc_id = b.rep_min
       |WHERE b.family_size >= 2
       |ORDER BY b.cluster""".stripMargin

  // ---------------------------------------------------------------- q170
  /** Weighted sampling WITHOUT replacement, distributed — the
    * Efraimidis–Spirakis A-Res scheme (Inf. Proc. Letters 2006): each
    * item draws key u^(1/w) and the sample is the top-k keys, which is
    * provably a weighted sample without replacement. Ranking by
    * u^(1/w) ⟺ ranking by log(u)/w, so the key is computed ENTIRELY in
    * the engine's integer milli-bit logs: u is the recomputable q145
    * draw (djb2 of md5(doc_id), 20-bit), log u = qlog(u) − 20000 ≤ 0,
    * and key_micro = −(((20000 − qlog u)·10⁶) div w) — numerator kept
    * non-negative so Spark's truncating div and DuckDB's flooring //
    * agree, then negated (the q166 sign discipline). Weights are token
    * counts: the token-budget subsample every mixture job draws, biased
    * toward long documents exactly in proportion to their mass. The
    * quantized log keeps the scheme deterministic and engine-exact; the
    * quantization perturbs selection only where two keys land within
    * 0.086 bits/w of each other (the q156 bound, documented).
    *
    * Scale shape: draw + key are map-side projections over the scan;
    * top-64 by (key, doc_id) plans TakeOrderedAndProject (map tasks
    * forward 64 rows); the rank window runs over the 64 collected
    * rows. */
  /** The A-Res key projection over any (doc_id, text) frame — factored
    * so the batch sampler and the S24 streaming reservoir key with the
    * LITERAL same expressions (the shardOf/softFilterDecision
    * discipline): columns (doc_id, w, u, key_micro), zero-token docs
    * dropped. */
  private[graft] def aresKeyed(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id",
        size(graft.functions.TextFns.tokens($"text")).cast("long").as("w"))
      .filter($"w" >= 1)
      .withColumn("u",
        pmod(graft.functions.Djb2.djb2(shardKey($"doc_id")), lit(1048576L))
          + 1L)
      .withColumn("key_micro",
        -expr(s"((20000 - ${Sql.qlogMilliSpark("u")}) * 1000000) div w"))
  }

  def q170WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val top = aresKeyed(Tables(s, dir, "documents"))
      .orderBy($"key_micro".desc, $"doc_id")
      .limit(64)
    top.withColumn("rank", row_number()
        .over(Window.orderBy($"key_micro".desc, $"doc_id")).cast("long"))
      .select($"rank", $"doc_id", $"w".as("n_tokens"), $"u", $"key_micro")
  }

  val q170Oracle: String = {
    val u = s"(${Sql.pmod(Sql.djb2("md5(CAST(doc_id AS VARCHAR))"), 1048576)} + 1)"
    s"""WITH keyed AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
       |    CAST($u AS BIGINT) AS u
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) >= 1),
       |scored AS (
       |  SELECT doc_id, w AS n_tokens, u,
       |    -(((20000 - ${Sql.qlogMilliDuck("u")}) * 1000000) // w) AS key_micro
       |  FROM keyed),
       |top AS (
       |  SELECT * FROM scored ORDER BY key_micro DESC, doc_id LIMIT 64)
       |SELECT CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id)
       |    AS BIGINT) AS rank,
       |  doc_id, n_tokens, u, key_micro
       |FROM top ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- q171
  /** Budgeted mixture cut — the greedy knapsack a token-budget release
    * actually runs: rank sources by mean quality (q42's score, floored
    * per doc to milli and averaged in exact int64 — no float mean to
    * reorder), then take whole sources in rank order until the budget
    * (40% of corpus tokens) is spent, the boundary source partially (the
    * fractional take in milli), everything after at zero. The output is
    * the per-source sampling directive a mixture config ships: who is
    * in, who is cut, and the one source that is throttled.
    *
    * Scale shape: one |sources|-group partial agg over the scan (doc
    * quality is the shared q42 projection), then every decision is a
    * window over |sources| rows — metadata at any corpus scale. */
  def q171BudgetMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perSrc = TextAnalysis.qualityScored(Tables(s, dir, "documents"))
      .select($"source", $"n_tokens",
        floor($"quality_score" * 1000.0).cast("long").as("q_milli"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
        sum($"q_milli").as("qsum"))
      .withColumn("mean_q_milli", expr("qsum div n_docs"))
    val wRank = Window.orderBy($"mean_q_milli".desc, $"source")
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, -1)
    val total = perSrc.agg(sum($"n_tokens")).head.getLong(0)
    val budget = total * 2 / 5
    perSrc
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(wCum), lit(0L)))
      .withColumn("take_tokens",
        greatest(lit(0L), least($"n_tokens", lit(budget) - $"cum_before")))
      .withColumn("take_frac_milli", expr("(take_tokens * 1000) div n_tokens"))
      .select($"rank", $"source", $"n_docs", $"mean_q_milli", $"n_tokens",
        $"cum_before", $"take_tokens", $"take_frac_milli")
      .orderBy($"rank")
  }

  val q171Oracle: String =
    s"""WITH per AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CAST(FLOOR(quality_score * 1000.0) AS BIGINT)) AS BIGINT)
       |      // CAST(COUNT(*) AS BIGINT) AS mean_q_milli
       |  FROM (
       |    SELECT d.source, q.n_tokens, q.quality_score
       |    FROM (${TextAnalysis.q42OracleNoOrder.replace("\n", "\n    ")}) q
       |    JOIN documents d USING (doc_id))
       |  GROUP BY source),
       |tot AS (SELECT CAST(SUM(n_tokens) * 2 // 5 AS BIGINT) AS budget
       |  FROM per),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER w AS BIGINT) AS rank,
       |    CAST(COALESCE(SUM(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM per
       |  WINDOW w AS (ORDER BY mean_q_milli DESC, source))
       |SELECT rank, source, n_docs, mean_q_milli, n_tokens, cum_before,
       |  GREATEST(0, LEAST(n_tokens, (SELECT budget FROM tot) - cum_before))
       |    AS take_tokens,
       |  (GREATEST(0, LEAST(n_tokens, (SELECT budget FROM tot) - cum_before))
       |    * 1000) // n_tokens AS take_frac_milli
       |FROM ranked ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q172
  /** Windowed-surprisal spike localization — q141's document-level
    * fluency gate sharpened to the SPAN level (the CCNet/Gopher practice
    * of trimming garbled stretches instead of dropping documents, and
    * the quality complement of q167's contamination surgery): per
    * document, the worst 16-bigram sliding window under the corpus
    * bigram model — its position, its integer milli-bits-per-bigram,
    * and the spike over the document's own mean. A document whose
    * worst window sits far above its mean has a LOCALIZED defect (an
    * encoding glitch, a pasted hash blob, a language switch) that span
    * trimming fixes; a uniformly high document is q141's drop. All
    * arithmetic is the q141 integer-bits discipline — bit-identical in
    * any engine. Documents with fewer than 16 bigrams have no full
    * window and are absent by construction (q141's absence rule).
    *
    * Scale shape: the model is q141's vocabulary-bounded pair/context
    * fold; scoring joins on (w1, w2); the sliding window, the per-doc
    * totals, and the argmax all cluster on doc_id — ONE data exchange
    * after scoring; the argmax is a struct max (no second window
    * pass). */
  def q172SurprisalSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = graft.functions.TextFns.tokens($"text")
    val bg = Tables(s, dir, "documents")
      .select($"doc_id", posexplode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as(Seq("p0", "p")))
      .select($"doc_id", ($"p0" + 1).cast("long").as("pos"),
        $"p.0".as("w1"), $"p.1".as("w2"))
    val pairs = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("pc"))
      .localCheckpoint(true)
    val ctx = pairs.groupBy($"w1").agg(sum($"pc").as("cc"))
    val scored = bg.join(pairs, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .select($"doc_id", $"pos",
        length(bin(expr("cc div pc"))).cast("long").as("bits"))
    val wDoc = Window.partitionBy($"doc_id")
    val wWin = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.currentRow, 15)
    scored
      .withColumn("n_bigrams", count(lit(1)).over(wDoc))
      .withColumn("doc_bits", sum($"bits").over(wDoc))
      .withColumn("win_bits", sum($"bits").over(wWin))
      .filter($"pos" <= $"n_bigrams" - 15)
      .groupBy($"doc_id", $"n_bigrams", $"doc_bits")
      .agg(max(struct($"win_bits".as("wb"), (-$"pos").as("np"))).as("m"))
      .select($"doc_id", $"n_bigrams",
        (-$"m.np").as("worst_pos"), $"m.wb".as("worst_bits"),
        expr("(m.wb * 1000) div 16").as("worst_milli"),
        expr("(doc_bits * 1000) div n_bigrams").as("doc_milli"),
        (expr("(m.wb * 1000) div 16")
          - expr("(doc_bits * 1000) div n_bigrams")).as("spike_milli"))
      .orderBy($"doc_id")
  }

  val q172Oracle: String =
    s"""WITH $q141Ctes,
       |bgp AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    tokens[CAST(i AS INTEGER)] AS w1,
       |    tokens[CAST(i AS INTEGER) + 1] AS w2
       |  FROM (SELECT doc_id, tokens, unnest(range(1, len(tokens))) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS tokens
       |              FROM documents))),
       |pscored AS (
       |  SELECT doc_id, pos, CAST(length(bin(cc // pc)) AS BIGINT) AS bits
       |  FROM bgp JOIN pairs USING (w1, w2) JOIN ctx USING (w1)),
       |wins AS (
       |  SELECT doc_id, pos,
       |    CAST(SUM(bits) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS BIGINT) AS win_bits,
       |    CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(bits) OVER (PARTITION BY doc_id) AS BIGINT) AS doc_bits
       |  FROM pscored),
       |best AS (
       |  SELECT doc_id, n_bigrams, doc_bits, pos AS worst_pos,
       |    win_bits AS worst_bits,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY win_bits DESC, pos) AS rn
       |  FROM wins WHERE pos <= n_bigrams - 15)
       |SELECT doc_id, n_bigrams, worst_pos, worst_bits,
       |  (worst_bits * 1000) // 16 AS worst_milli,
       |  (doc_bits * 1000) // n_bigrams AS doc_milli,
       |  (worst_bits * 1000) // 16 - (doc_bits * 1000) // n_bigrams
       |    AS spike_milli
       |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q173
  /** Cross-source overlap by KMV distinct sketch, audited against exact
    * truth — the 100 TB replacement for q108's exact-Jaccard matrix.
    *
    * q108's exact matrix self-joins the corpus-wide DISTINCT shingle table:
    * one corpus-sized distinct exchange plus a shared-key join — fine
    * nightly, unpayable per-delta. The sketch leg here never shuffles the
    * corpus at all: [[graft.functions.KmvAgg]] consumes the raw exploded
    * shingle stream, dedups inside the buffer, and map-side combine caps
    * each task's exchange contribution at K longs per source. Pairwise
    * |A∪B| comes from MERGING the two k-arrays (KMV sketches compose under
    * union), |A∩B| by inclusion–exclusion, clamped at 0 — all array
    * arithmetic over a |sources|-row broadcast, no data join.
    *
    * The exact leg (q108's shape over the same hash universe) rides along
    * at fixture scale as ground truth, so the output IS the sketch's error
    * audit: est vs exact Jaccard in milli per pair.
    *
    * The estimator N̂ = (k−1)·M / h_(k) requires UNIFORM hashes, and raw
    * djb2 is not (fixed-length strings cluster in a narrow band around the
    * deterministic 5381·33ⁿ term — measured: est off by 4× on the fixture).
    * So the mod-2³²-reduced value goes through two LCG-multiply + xorshift
    * avalanche rounds first. Each round is a BIJECTION on [0, 2³²) (odd
    * multiplier mod 2³², then xor with a right shift), so distinct counts
    * and set overlaps are untouched and the exact leg shares the mixed
    * column. All-integer, positive operands throughout — Spark `div`/`%`
    * == DuckDB `//`/`%`, products < 2⁶³. */
  def q173KmvSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 128
    val kM = (K - 1).toLong * 4294967296L // (k−1)·M, M = 2³² mixed space
    val kmv = udaf(new graft.functions.KmvAgg(K),
      org.apache.spark.sql.Encoders.scalaLong)
    val raw = Tables(s, dir, "documents")
      .select($"source",
        explode(HashFns.shingleHashes(TextFns.tokens($"text"), 3)).as("h0"))
      .withColumn("u", $"h0" % 4294967296L) // djb2 here is abs(), ≥ 0
      .withColumn("m1", ($"u" * 1103515245L + 12345L) % 4294967296L)
      .withColumn("m2", expr("m1 ^ (m1 div 65536)"))
      .withColumn("m3", ($"m2" * 1103515245L + 54321L) % 4294967296L)
      .select($"source", expr("m3 ^ (m3 div 65536)").as("h"))
    // Sketch leg: no distinct(), no corpus exchange — ≤ K longs per
    // (task, source) reach the 20-group aggregation.
    val sk = raw.groupBy($"source").agg(kmv($"h").as("arr"))
      .localCheckpoint(true)
    // Exact-truth leg (fixture-scale audit; at 100 TB only the sketch runs).
    val sh = raw.distinct().localCheckpoint(true)
    val shared = sh.select($"source".as("src_a"), $"h")
      .join(sh.select($"source".as("src_b"), $"h"), Seq("h"))
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("shared"))
    val sizes = sh.groupBy($"source").agg(count(lit(1)).as("n"))
    val exact = shared
      .join(broadcast(sizes.select($"source".as("src_a"), $"n".as("n_a"))), "src_a")
      .join(broadcast(sizes.select($"source".as("src_b"), $"n".as("n_b"))), "src_b")
      .select($"src_a", $"src_b",
        expr("shared * 1000 div (n_a + n_b - shared)").as("jacc_exact_milli"))
    def est(arr: String): String =
      s"CASE WHEN size($arr) < $K THEN CAST(size($arr) AS BIGINT) " +
        s"ELSE ${kM}L div element_at($arr, $K) END"
    sk.select($"source".as("src_a"), $"arr".as("arr_a"))
      .crossJoin(broadcast(sk.select($"source".as("src_b"), $"arr".as("arr_b"))))
      .filter($"src_a" < $"src_b")
      .withColumn("mu", slice(array_sort(array_union($"arr_a", $"arr_b")), 1, K))
      .withColumn("est_a", expr(est("arr_a")))
      .withColumn("est_b", expr(est("arr_b")))
      .withColumn("est_union", expr(est("mu")))
      .withColumn("est_inter", greatest(lit(0L), $"est_a" + $"est_b" - $"est_union"))
      .withColumn("jacc_est_milli", expr("est_inter * 1000 div est_union"))
      .join(exact, Seq("src_a", "src_b"), "left")
      .withColumn("jacc_exact_milli", coalesce($"jacc_exact_milli", lit(0L)))
      .withColumn("err_milli", $"jacc_est_milli" - $"jacc_exact_milli")
      .select($"src_a", $"src_b", $"est_a", $"est_b", $"est_union",
        $"est_inter", $"jacc_est_milli", $"jacc_exact_milli", $"err_milli")
      .orderBy($"src_a", $"src_b")
  }

  val q173Oracle: String = {
    val K = 128
    val kM = (K - 1).toLong * 4294967296L
    val shingled = s"unnest(list_transform(${Sql.shingles("tokens", 3)}, " +
      s"shing -> ${Sql.djb2("shing")}))"
    def est(arr: String): String =
      s"CASE WHEN len($arr) < $K THEN CAST(len($arr) AS BIGINT) " +
        s"ELSE $kM // ($arr)[$K] END"
    s"""WITH raw AS MATERIALIZED (
       |  SELECT source, xor(m3, m3 // 65536) AS h FROM (
       |    SELECT source, (m2 * 1103515245 + 54321) % 4294967296 AS m3 FROM (
       |      SELECT source, xor(m1, m1 // 65536) AS m2 FROM (
       |        SELECT source, (u * 1103515245 + 12345) % 4294967296 AS m1 FROM (
       |          SELECT source, h0 % 4294967296 AS u FROM (
       |            SELECT source, $shingled AS h0
       |            FROM (SELECT source, string_split(text, ' ') AS tokens
       |                  FROM documents))))))),
       |sh AS MATERIALIZED (SELECT DISTINCT source, h FROM raw),
       |ranked AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh),
       |sk AS (SELECT source, list_sort(list(h)) AS arr
       |       FROM ranked WHERE rn <= $K GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, a.arr AS arr_a, b.arr AS arr_b
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |m AS (SELECT src_a, src_b, arr_a, arr_b,
       |        (list_sort(list_distinct(list_concat(arr_a, arr_b))))[1:$K] AS mu
       |      FROM pairs),
       |est AS (SELECT src_a, src_b,
       |  ${est("arr_a")} AS est_a, ${est("arr_b")} AS est_b,
       |  ${est("mu")} AS est_union FROM m),
       |est2 AS (SELECT *,
       |  GREATEST(CAST(0 AS BIGINT), est_a + est_b - est_union) AS est_inter
       |  FROM est),
       |est3 AS (SELECT *, (est_inter * 1000) // est_union AS jacc_est_milli
       |  FROM est2),
       |shared AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS shared
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2),
       |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source),
       |exact AS (
       |  SELECT shared.src_a, shared.src_b,
       |    (shared * 1000) // (sa.n + sb.n - shared) AS jacc_exact_milli
       |  FROM shared JOIN sizes sa ON sa.source = shared.src_a
       |              JOIN sizes sb ON sb.source = shared.src_b)
       |SELECT e.src_a, e.src_b, est_a, est_b, est_union, est_inter,
       |  jacc_est_milli, COALESCE(x.jacc_exact_milli, CAST(0 AS BIGINT)) AS jacc_exact_milli,
       |  jacc_est_milli - COALESCE(x.jacc_exact_milli, CAST(0 AS BIGINT)) AS err_milli
       |FROM est3 e LEFT JOIN exact x ON x.src_a = e.src_a AND x.src_b = e.src_b
       |ORDER BY e.src_a, e.src_b""".stripMargin
  }

  // ---------------------------------------------------------------- q174
  /** Pareto frontier of the curation trade-off (the skyline operator,
    * Börzsönyi et al. ICDE 2001): which (quality, token-cost) points are
    * undominated — no other document has ≥ quality AND ≤ tokens with one
    * strict? The frontier is what a budgeted curation pass actually
    * chooses from; everything below it is strictly worse per token spent.
    *
    * 2-D skyline needs no O(n²) dominance join: quantize quality to milli
    * (floor of the q42 score ×1000 — same double both engines, q42's
    * hash-match), take the min token count per quality level, then one
    * running-min sweep from the high-quality end — a level survives iff
    * its min is strictly below every higher level's. Dominance within a
    * level is the min itself; dominance across levels is the sweep.
    *
    * Scale shape: one map-side projection (the shared q42 expressions),
    * one ≤1001-key partial agg, then windows over ≤1001 METADATA rows
    * (the quantization is what bounds the global window — the reason
    * q_milli exists instead of raw doubles). Corpus size only enters the
    * first agg, which combines map-side. */
  def q174ParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = TextAnalysis.qualityScored(Tables(s, dir, "documents"))
      .filter($"n_tokens" > 0)
      .select(floor($"quality_score" * 1000).cast("long").as("q_milli"),
        $"n_tokens")
      .groupBy($"q_milli", $"n_tokens").agg(count(lit(1)).as("n_at_point"))
    val minPerQ = pts
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_milli").orderBy($"n_tokens")))
      .filter($"rn" === 1).drop("rn")
    val sweep = Window.orderBy($"q_milli".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    minPerQ.withColumn("rm", min($"n_tokens").over(sweep))
      .filter($"rm".isNull || $"n_tokens" < $"rm")
      .select($"q_milli", $"n_tokens".as("min_tokens"), $"n_at_point")
      .orderBy($"q_milli".desc)
  }

  val q174Oracle: String =
    s"""WITH scored AS (
       |  SELECT quality_score, CAST(n_tokens AS BIGINT) AS n_tokens
       |  FROM (${TextAnalysis.q42OracleNoOrder}) WHERE n_tokens > 0),
       |pts AS (
       |  SELECT CAST(floor(quality_score * 1000) AS BIGINT) AS q_milli,
       |    n_tokens, CAST(COUNT(*) AS BIGINT) AS n_at_point
       |  FROM scored GROUP BY 1, 2),
       |minq AS (
       |  SELECT q_milli, n_tokens, n_at_point FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_milli ORDER BY n_tokens) AS rn
       |    FROM pts) WHERE rn = 1),
       |fr AS (
       |  SELECT q_milli, n_tokens, n_at_point,
       |    MIN(n_tokens) OVER (ORDER BY q_milli DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
       |  FROM minq)
       |SELECT q_milli, n_tokens AS min_tokens, n_at_point
       |FROM fr WHERE rm IS NULL OR n_tokens < rm
       |ORDER BY q_milli DESC""".stripMargin

  // ---------------------------------------------------------------- q175
  /** Reliability audit of the learned quality classifier (q79) against the
    * rule-based gate (q42) — the calibration table a filtering pipeline
    * reads before trusting a model score as a keep/drop probability
    * (Guo et al. ICML 2017's reliability-diagram shape, with the rule gate
    * standing in for labels): per fixed-width score band, how many docs,
    * the band's exact mean score, and the observed rule-pass rate. A
    * well-behaved classifier shows rule_pass_milli monotone in band; flat
    * or inverted bands are where the learned filter disagrees with the
    * rules and a threshold would mis-gate.
    *
    * Fixed-width bands (floor(score·20), clamped) — NOT ntile — on
    * purpose: ntile is a corpus-wide single-partition sort at 100 TB,
    * while fixed bands are a map-side projection feeding an ≤80-key
    * partial agg. One scan: the q42 rule expressions and the q79
    * inference run as two composed map-side projections (the registered
    * code paths, via [[TextAnalysis.qualityScored]] /
    * [[classifierScored]]) — no self-join on doc_id. Mean score goes
    * through the exact-decimal-sum discipline. */
  def q175Calibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rule = TextAnalysis.qualityScored(Tables(s, dir, "documents"))
      .select($"doc_id", $"text", $"is_quality".as("rule_pass"))
    classifierScored(rule)
      .select($"score", $"rule_pass")
      .withColumn("band",
        greatest(lit(-40L), least(lit(39L), floor($"score" * 20).cast("long"))))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_docs"),
        (sum($"score".cast("decimal(18,6)")).cast("double") / count(lit(1)))
          .as("mean_score"),
        sum(when($"rule_pass", 1L).otherwise(0L)).as("passes"))
      .withColumn("rule_pass_milli", expr("passes * 1000 div n_docs"))
      .select($"band", $"n_docs", $"mean_score", $"rule_pass_milli")
      .orderBy($"band")
  }

  val q175Oracle: String =
    s"""WITH rule AS (
       |  SELECT doc_id, is_quality AS rule_pass
       |  FROM (${TextAnalysis.q42OracleNoOrder})),
       |cls AS (SELECT doc_id, score FROM ($q79Oracle)),
       |j AS (
       |  SELECT c.score, r.rule_pass
       |  FROM cls c JOIN rule r ON r.doc_id = c.doc_id),
       |b AS (
       |  SELECT CAST(GREATEST(-40, LEAST(39, CAST(floor(score * 20) AS BIGINT)))
       |      AS BIGINT) AS band,
       |    score, rule_pass FROM j),
       |a AS (
       |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_score,
       |    CAST(SUM(CASE WHEN rule_pass THEN 1 ELSE 0 END) AS BIGINT) AS passes
       |  FROM b GROUP BY band)
       |SELECT band, n_docs, mean_score, (passes * 1000) // n_docs AS rule_pass_milli
       |FROM a ORDER BY band""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q68_decontaminate" -> q68Decontaminate _,
    "q69_lm_rarity" -> q69LmRarity _,
    "q70_stratified_sample" -> q70StratifiedSample _,
    "q71_source_mix" -> q71SourceMix _,
    "q74_length_outliers" -> q74LengthOutliers _,
    "q75_token_packing" -> q75TokenPacking _,
    "q79_quality_classifier" -> q79QualityClassifier _,
    "q80_cluster_split" -> q80ClusterSplit _,
    "q81_transitive_decontam" -> q81TransitiveDecontam _,
    "q107_lm_bigrams" -> q107LmBigrams _,
    "q108_source_overlap" -> q108SourceOverlap _,
    "q111_data_card" -> q111DataCard _,
    "q115_release_manifest" -> q115ReleaseManifest _,
    "q118_dedup_savings" -> q118DedupSavings _,
    "q121_semantic_decontam" -> q121SemanticDecontam _,
    "q123_epoch_schedule" -> q123EpochSchedule _,
    "q140_language_budget" -> q140LanguageBudget _,
    "q141_bigram_surprisal" -> q141BigramSurprisal _,
    "q142_training_shards" -> q142TrainingShards _,
    "q145_soft_filter" -> q145SoftFilter _,
    "q146_quality_map" -> q146QualityMap _,
    "q147_packed_sequences" -> q147PackedSequences _,
    "q150_curriculum" -> q150Curriculum _,
    "q154_padding_waste" -> q154PaddingWaste _,
    "q156_dsir_weights" -> q156DsirWeights _,
    "q161_dup_weights" -> q161DupWeights _,
    "q162_family_shards" -> q162FamilyShards _,
    "q168_pack_leakage" -> q168PackLeakage _,
    "q169_best_rep" -> q169BestRep _,
    "q170_weighted_sample" -> q170WeightedSample _,
    "q171_budget_mix" -> q171BudgetMix _,
    "q172_surprisal_spans" -> q172SurprisalSpans _,
    "q173_kmv_sketch" -> q173KmvSketch _,
    "q174_pareto_frontier" -> q174ParetoFrontier _,
    "q175_calibration" -> q175Calibration _,
  )

  val oracles: Map[String, String] = Map(
    "q68_decontaminate" -> q68Oracle,
    "q69_lm_rarity" -> q69Oracle,
    "q70_stratified_sample" -> q70Oracle,
    "q71_source_mix" -> q71Oracle,
    "q74_length_outliers" -> q74Oracle,
    "q75_token_packing" -> q75Oracle,
    "q79_quality_classifier" -> q79Oracle,
    "q80_cluster_split" -> q80Oracle,
    "q81_transitive_decontam" -> q81Oracle,
    "q107_lm_bigrams" -> q107Oracle,
    "q108_source_overlap" -> q108Oracle,
    "q111_data_card" -> q111Oracle,
    "q115_release_manifest" -> q115Oracle,
    "q118_dedup_savings" -> q118Oracle,
    "q121_semantic_decontam" -> q121Oracle,
    "q123_epoch_schedule" -> q123Oracle,
    "q140_language_budget" -> q140Oracle,
    "q141_bigram_surprisal" -> q141Oracle,
    "q142_training_shards" -> q142Oracle,
    "q145_soft_filter" -> q145Oracle,
    "q146_quality_map" -> q146Oracle,
    "q147_packed_sequences" -> q147Oracle,
    "q150_curriculum" -> q150Oracle,
    "q154_padding_waste" -> q154Oracle,
    "q156_dsir_weights" -> q156Oracle,
    "q161_dup_weights" -> q161Oracle,
    "q162_family_shards" -> q162Oracle,
    "q168_pack_leakage" -> q168Oracle,
    "q169_best_rep" -> q169Oracle,
    "q170_weighted_sample" -> q170Oracle,
    "q171_budget_mix" -> q171Oracle,
    "q172_surprisal_spans" -> q172Oracle,
    "q173_kmv_sketch" -> q173Oracle,
    "q174_pareto_frontier" -> q174Oracle,
    "q175_calibration" -> q175Oracle,
  )
}
