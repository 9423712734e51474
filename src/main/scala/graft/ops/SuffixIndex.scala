package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Distributed suffix indexing — the machinery behind exact-substring
  * dedup at corpus scale (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better", builds a suffix array over the whole
  * training corpus to find long verbatim repeats). q76/q126 approximate
  * that analysis with hashed fixed-width windows; this family computes the
  * real thing: the token-level suffix RANK of every position (q130), and
  * the LCP-derived per-document repetition statistics a suffix array
  * exists to answer (q131) — longest repeated substring and the distinct
  * substring count.
  *
  * Algorithm: prefix doubling (Manber–Myers 1990), re-expressed in
  * windowed Spark SQL. Round 0 ranks each position by its own token
  * (`dense_rank` over the doc partition); round k re-ranks by the pair
  * (rank[pos], rank[pos + 2^k]), with the out-of-range partner ranked 0 so
  * shorter suffixes sort first — after ceil(log2 maxlen) rounds the ranks
  * are the suffix array order. Every comparison is over two ints, never
  * over suffix strings: the O(n² · len) naive sort becomes O(n log n) per
  * round with O(log maxlen) rounds, which is what makes a corpus-global
  * suffix array tractable at all.
  *
  * Scale shape: every window partitions by doc_id, so the whole doubling
  * loop is ONE exchange on doc_id followed by log(maxlen) in-partition
  * sorts — a document's token stream is always co-located (documents are
  * bounded by the ingest/chunking discipline, q109). `lead(r, 2^k)` reads
  * the partner rank from the SAME sorted run — no self-join materializes.
  * The CORPUS-GLOBAL variant (cross-document repeats, the full Lee et al.
  * shape) is the identical loop with the doc partition dropped: each round
  * becomes a range-partitioned global sort (the terasort shape), still
  * log(maxlen) rounds — the per-doc form here demonstrates the algorithm
  * with the cheaper partitioning, and q76/q126 cover the cross-document
  * question with hashed windows.
  *
  * The doubling depth comes from one `max(n_tokens)` aggregate collected
  * as bounded metadata (a single int — at production scale this is a
  * catalog statistic, like the centroid/codebook collects the ANN family
  * justifies in-source).
  *
  * Oracle-parity contract: the oracles compare space-joined suffix
  * STRINGS, which equals the engine's token-wise order iff no token
  * contains a character collating below 0x20 (space) — i.e. the corpus
  * text is single-space-tokenized with no embedded control characters,
  * the same contract `shCte`/q82 already assume of the fixtures. The
  * ENGINE's integer ranks are correct token-wise regardless; only the
  * SQL mirror depends on the separator argument.
  */
object SuffixIndex {

  /** (doc_id, toks) for every document — the shared scan projection. */
  private def tokDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", TextFns.tokens($"text").as("toks"))
  }

  /** The prefix-doubling core: (doc_id, pos, srank) for every 1-based
    * token position, where srank is the rank of suffix toks[pos..] in the
    * doc's suffix order (1 = lexicographically smallest). */
  private def suffixRanks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = tokDocs(s, dir)
    // the doubling depth: one int of metadata (see object scaladoc)
    // coalesce guards the empty-table case (max over zero rows is null)
    val maxLen = docs.agg(coalesce(max(size($"toks")), lit(1)))
      .head.getInt(0).max(1)
    val wPos = Window.partitionBy($"doc_id").orderBy($"pos")
    var cur = docs
      .select($"doc_id", posexplode($"toks").as(Seq("p0", "tok")))
      .select($"doc_id", ($"p0" + 1).as("pos"), $"tok")
      .withColumn("r",
        dense_rank().over(Window.partitionBy($"doc_id").orderBy($"tok")))
      .select($"doc_id", $"pos", $"r")
    // r20 optimization (guide §1.2): RADIX-8 doubling — each round
    // re-keys by the radix-tuple (r, r[pos+s], …, r[pos+(radix−1)s]), so
    // the resolved prefix length multiplies by the radix (⌈log_radix⌉ rounds instead
    // of ⌈log₂⌉). Correctness is the standard
    // radix-k doubling argument: equal ranks at earlier offsets align
    // the block boundaries, each block compares as an s-prefix rank, and
    // an out-of-range partner ranks 0 (< every real rank) so shorter
    // suffixes still sort first — final ranks are byte-identical to the
    // 2-way loop's (both are the true suffix order, oracle-hash-proven).
    var span = 1
    while (span < maxLen) {
      val keyed = (1 until GlobalRadix).foldLeft(cur) { case (df, k) =>
        df.withColumn(s"r$k",
          coalesce(lead($"r", k * span).over(wPos), lit(0)))
      }
      cur = keyed
        .withColumn("r", dense_rank().over(
          Window.partitionBy($"doc_id").orderBy(
            ("r" +: (1 until GlobalRadix).map(k => s"r$k")).map(col): _*)))
        .select($"doc_id", $"pos", $"r")
      span *= GlobalRadix
    }
    cur.select($"doc_id", $"pos".cast("long").as("pos"),
      $"r".cast("long").as("srank"))
  }

  // --------------------------------------------------------------- q130
  /** The per-document suffix rank table itself — the index artifact. The
    * oracle sorts the materialized suffix STRINGS (tokens joined by a
    * separator that collates below every token character), so the
    * hash-match proves the integer doubling loop reproduces true
    * lexicographic suffix order position by position. */
  def q130SuffixRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    suffixRanks(s, dir).orderBy($"doc_id", $"pos")
  }

  val q130Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
      |pos AS (
      |  SELECT doc_id, tokens, unnest(range(1, len(tokens) + 1)) AS pos
      |  FROM tok)
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |  CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY array_to_string(tokens[pos:], ' '), pos) AS BIGINT) AS srank
      |FROM pos
      |ORDER BY doc_id, pos""".stripMargin

  // --------------------------------------------------------------- q131
  /** LCP-derived repetition statistics — what a suffix array is FOR: per
    * document, the longest repeated token substring (`lrs_tokens` = max
    * LCP of rank-adjacent suffixes) and the exact distinct-substring count
    * (`n_distinct_substrings` = n(n+1)/2 − Σ LCP) — the precise form of
    * the repetitiveness signal q63 measures as a fixed-width 3-gram ratio.
    * A doc whose lrs approaches its length is template spam; the distinct
    * count over n(n+1)/2 is exact intra-doc novelty. All integer-exact —
    * no floats anywhere.
    *
    * LCP of rank-adjacent suffixes is computed by direct token comparison
    * (`zip_with` + first mismatch) — O(lcp) per adjacent pair rather than
    * Kasai's sequential O(n) total, in exchange for staying a declarative
    * map-side expression over the pair rows; documents are bounded by the
    * ingest/chunking discipline, so the per-doc worst case is bounded.
    * The self-join on (doc_id, srank → srank+1) runs over the
    * localCheckpoint'd rank table (token-stream-sized, two consumers). */
  def q131SuffixStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranks = suffixRanks(s, dir).localCheckpoint(true)
    val docs = tokDocs(s, dir)
    val adj = ranks.as("a").join(ranks.as("b"),
        $"a.doc_id" === $"b.doc_id" && $"a.srank" + 1L === $"b.srank")
      .select($"a.doc_id".as("doc_id"), $"a.pos".as("pa"), $"b.pos".as("pb"))
    val n = size($"toks")
    val eqRun = zip_with(
      slice($"toks", $"pa".cast("int"), n),
      slice($"toks", $"pb".cast("int"), n),
      (x, y) => coalesce(x === y, lit(false)))
    // two different suffixes always mismatch within the zipped span (the
    // shorter one's padding compares false), so the position is never 0
    val lcps = adj.join(docs, "doc_id")
      .select($"doc_id", (array_position(eqRun, false) - 1L).as("lcp"))
      .groupBy($"doc_id")
      .agg(max($"lcp").as("max_lcp"), sum($"lcp").as("sum_lcp"))
    docs.select($"doc_id", n.cast("long").as("n_tokens"))
      .join(lcps, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_tokens",
        coalesce($"max_lcp", lit(0L)).as("lrs_tokens"),
        // n(n+1) is even, so the shift IS n(n+1)/2 exactly — Spark's `/`
        // on longs is true division (double), which would break the
        // integer-exact contract
        (shiftright($"n_tokens" * ($"n_tokens" + 1L), 1) -
          coalesce($"sum_lcp", lit(0L))).as("n_distinct_substrings"))
      .orderBy($"doc_id")
  }

  val q131Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
      |pos AS (
      |  SELECT doc_id, tokens, unnest(range(1, len(tokens) + 1)) AS pos
      |  FROM tok),
      |ranked AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY array_to_string(tokens[pos:], ' '), pos) AS srank
      |  FROM pos),
      |adj AS (
      |  SELECT a.doc_id, a.pos AS pa, b.pos AS pb
      |  FROM ranked a JOIN ranked b
      |    ON b.doc_id = a.doc_id AND b.srank = a.srank + 1),
      |lcps AS (
      |  SELECT adj.doc_id,
      |    COALESCE(
      |      NULLIF(list_position(list_transform(
      |        range(1, least(len(t.tokens) - pa, len(t.tokens) - pb) + 2),
      |        lx -> t.tokens[pa + lx - 1] = t.tokens[pb + lx - 1]), false), 0) - 1,
      |      least(len(t.tokens) - pa, len(t.tokens) - pb) + 1) AS lcp
      |  FROM adj JOIN tok t ON t.doc_id = adj.doc_id),
      |agg AS (
      |  SELECT doc_id, MAX(lcp) AS max_lcp, SUM(lcp) AS sum_lcp
      |  FROM lcps GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.tokens) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(a.max_lcp, 0) AS BIGINT) AS lrs_tokens,
      |  CAST(len(t.tokens) * (len(t.tokens) + 1) // 2
      |    - COALESCE(a.sum_lcp, 0) AS BIGINT) AS n_distinct_substrings
      |FROM tok t LEFT JOIN agg a ON a.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // --------------------------------------------------------------- q132
  /** Global dense rank of the distinct `keys` of `df`, joined back as
    * column `out` — the distributed total-rank primitive the corpus-global
    * doubling loop needs. Built two-phase: range-sort the DISTINCT key
    * table, then `zipWithIndex` (Spark's own per-partition-counts +
    * offsets pattern — one tiny count job, never a single-partition
    * window), then a hash join back on the keys. Equal keys share a rank
    * because the rank table is distinct-keyed. */
  private def withGlobalDenseRank(df: DataFrame, keys: Seq[String],
      out: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val s = df.sparkSession
    val sorted = df.select(keys.map(col): _*).distinct()
      .orderBy(keys.map(col): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(out, LongType, nullable = false))
    val ranked = s.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (i + 1L))
      }, schema)
    df.join(ranked, keys)
  }

  /** Corpus-GLOBAL prefix doubling: (doc_id, pos, grank) where grank is
    * the dense rank of suffix (doc_id, pos) in the suffix order of the
    * WHOLE corpus — identical suffixes (duplicated documents) share a
    * rank. Each round re-keys every position by the int pair (r[pos],
    * r[pos + 2^k]) exactly as [[suffixRanks]], but the re-rank is
    * [[withGlobalDenseRank]] — a range-partitioned global sort of the
    * distinct key table (the terasort shape) instead of a per-doc window.
    * Rounds are localCheckpoint'd: each round's zipWithIndex is a
    * barrier, and the checkpoint keeps round k from recomputing rounds
    * 1..k−1 (the iterate-and-checkpoint discipline the CC pointer-
    * doubling rounds already use). */
  /** Radix of the global doubling loop: each round re-keys by the
    * tuple (r, r[pos+s], …, r[pos+(radix−1)s]) and multiplies the
    * resolved span by `radix` — ⌈log_radix maxLen⌉ terasort rounds.
    * Per-round cost grows only by (radix−1) lead columns off the SAME
    * window sort, while every round carries ~6 fixed stages (window,
    * distinct, range sort, zipWithIndex, join back, checkpoint), so a
    * larger radix trades cheap width for expensive depth. 8 ⇒ 3 rounds
    * at maxLen ≤ 512. */
  private val GlobalRadix = 8

  private[graft] def globalSuffixRanks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = tokDocs(s, dir)
    // maxLen drives the doubling depth; the same collected row also guards
    // the q133/q134/q135 witness encoding doc_id·2²⁰+pos (ADVICE r9): an
    // over-long document or oversized doc_id would corrupt decoded
    // witnesses IDENTICALLY in engine and oracle, so the DuckDB parity
    // gate could never catch it — it must fail loudly here instead.
    val bounds = docs.agg(coalesce(max(size($"toks")), lit(1)),
      coalesce(max($"doc_id"), lit(0L))).head
    val maxLen = bounds.getInt(0).max(1)
    val maxDoc = bounds.getLong(1)
    require(maxLen < (1 << 20),
      s"suffix-index witness encoding requires every document < 2^20 " +
        s"tokens (found $maxLen); re-chunk the corpus (q109) or widen the " +
        "encoding")
    require(maxDoc < (1L << 43),
      s"suffix-index witness encoding requires doc_id < 2^43 (found $maxDoc)")
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    var cur = withGlobalDenseRank(
      docs.select($"doc_id", posexplode($"toks").as(Seq("p0", "tok")))
        .select($"doc_id", ($"p0" + 1).cast("long").as("pos"), $"tok"),
      Seq("tok"), "r")
      .select($"doc_id", $"pos", $"r").localCheckpoint(true)
    // r20 optimization (guide §1.2 — fix the distributed algorithm
    // first): Manber–Myers EARLY TERMINATION. Each round refines the
    // rank partition by the (r, r[pos+span]) key; once a round leaves
    // the number of distinct ranks unchanged, the partition is stable —
    // every rank class has exactly one continuation class, so the
    // re-rank reproduces r verbatim (one (r, r2) pair per r, sorted
    // lexicographically = sorted by r), and by induction every LATER
    // round is also a no-op (a class that does not split at span s
    // determines its continuation classes at every multiple of s, so no
    // key at any larger span can split it). Stopping there yields
    // byte-identical grank — the remaining ⌈log₂(maxLen)⌉−k rounds of
    // the fixed-depth loop were pure waste. The distinct count is
    // max(r) (dense ranks are 1..n) — one cheap partial-agg max over
    // the already-checkpointed round output, no distinct shuffle;
    // convergence costs one provably-no-op round, the proof round.
    // ... and RADIX-8 doubling (see [[suffixRanks]], [[GlobalRadix]]):
    // the re-key tuple is (r, r[pos+s], …, r[pos+7s]), so each terasort
    // round resolves 8× the prefix — ⌈log₈ maxLen⌉ global sorts instead
    // of ⌈log₂⌉ (7 → 3 at maxLen 100), same final ranks.
    // coalesce guards the empty-corpus case (max over zero rows is
    // null), matching the maxLen bound's own guard above
    var nd = cur.agg(coalesce(max($"r"), lit(0L))).head.getLong(0)
    var span = 1
    var converged = false
    var rounds = 0
    val radix = GlobalRadix
    while (span < maxLen && !converged) {
      val keyed = (1 until radix).foldLeft(cur) { case (df, k) =>
        df.withColumn(s"r$k",
          coalesce(lead($"r", k * span).over(wDoc), lit(0L)))
      }
      cur = withGlobalDenseRank(keyed,
        "r" +: (1 until radix).map(k => s"r$k"), "rn")
        .select($"doc_id", $"pos", $"rn".as("r")).localCheckpoint(true)
      rounds += 1
      val n2 = cur.agg(coalesce(max($"r"), lit(0L))).head.getLong(0)
      converged = n2 == nd
      nd = n2
      span *= radix
    }
    if (converged) System.err.println(
      s"[suffix] prefix doubling converged after $rounds rounds " +
        s"(span ${span / 2} of maxLen $maxLen): rank partition stable")
    cur.select($"doc_id", $"pos", $"r".as("grank"))
  }

  /** Session-scoped cache of the global rank table — the suffix index is
    * built once per (session, corpus) and consumed by q132, q133, and any
    * future cross-doc analysis, exactly how a production suffix index is
    * staged once and probed many times (the sharedShingleDocs pattern).
    * The bench books the cold build as its own `suffix_prep` entry
    * ([[prepGlobalRanks]]), so the cost is measured, never hidden.
    * Liveness probing and eviction (only missing-checkpoint-block
    * failures self-heal — ADVICE r9) live in [[SessionCache]]. */
  private val rankCache = SessionCache.frames()

  private def sharedGlobalRanks(s: SparkSession, dir: String): DataFrame =
    rankCache.getOrBuild(s, dir)(
      globalSuffixRanks(s, dir)) // rounds already checkpointed

  /** Bench hooks: time the global-rank build COLD as its own entry. */
  private[graft] def evictSession(s: SparkSession): Unit =
    rankCache.evict(s)
  private[graft] def prepGlobalRanks(s: SparkSession, dir: String): Unit = {
    sharedGlobalRanks(s, dir); ()
  }

  /** The corpus-global suffix rank table — q130's per-doc loop promoted to
    * the full Lee-et-al. shape: one suffix order across every document, so
    * cross-document verbatim repeats become rank-adjacency. The oracle is
    * a global dense_rank over materialized suffix strings; the hash-match
    * proves the distributed two-phase rank (range sort + offset join, no
    * single-partition anything) reproduces it exactly, duplicate suffixes
    * and all. */
  def q132GlobalSuffixRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedGlobalRanks(s, dir).orderBy($"doc_id", $"pos")
  }

  val q132Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
      |pos AS (
      |  SELECT doc_id, tokens, unnest(range(1, len(tokens) + 1)) AS pos
      |  FROM tok)
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |  CAST(dense_rank() OVER (
      |    ORDER BY array_to_string(tokens[pos:], ' ')) AS BIGINT) AS grank
      |FROM pos
      |ORDER BY doc_id, pos""".stripMargin

  // --------------------------------------------------------------- q133
  /** Corpus-wide repeated substrings with witnesses — what the global
    * suffix order is FOR (the Lee et al. memorized-span finder, exact):
    * the top-20 repeat evidences by shared-prefix length. Two candidate
    * families cover every maximal repeat: a rank GROUP with ≥ 2 members
    * is an identical suffix duplicated across positions (lcp = the whole
    * suffix), and ADJACENT rank representatives bound every other pair's
    * LCP (the min-over-interval property of suffix arrays — the max
    * pairwise LCP is always achieved within a group or between adjacent
    * groups). Row 1 IS the corpus's longest repeated token substring;
    * `same_suffix` distinguishes whole-suffix duplication from proper
    * prefix overlap.
    *
    * Witnesses are the min/max (doc_id, pos) of each group, encoded as
    * `doc_id·2²⁰ + pos` so min/max are plain int64 aggregates identical
    * in both engines (positions are bounded by the ingest/chunking
    * discipline far below 2²⁰).
    *
    * Scale shape: the group table is ONE partial agg on grank; adjacency
    * is an equi-join on grank+1 (8-byte key); witness decoding and the
    * LCP compare are map-side over the group rows; top-20 plans
    * TakeOrderedAndProject. The rank table is the q132 subplan,
    * localCheckpoint'd once for its two consumers. */
  def q133CorpusRepeats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val enc = lit(1048576L)
    // already checkpointed round-by-round; the final table is reused via
    // the session cache, so the two consumers below never rebuild the loop
    val ranks = sharedGlobalRanks(s, dir)
    val docs = tokDocs(s, dir)
    val g = ranks.join(docs, "doc_id")
      .select($"grank", ($"doc_id" * enc + $"pos").as("w"),
        (size($"toks") - $"pos" + 1L).cast("long").as("slen"))
    val grp = g.groupBy($"grank")
      .agg(count(lit(1)).as("cnt"), min($"w").as("wmin"),
        max($"w").as("wmax"), min($"slen").as("slen"))
      .localCheckpoint(true)
    val dup = grp.filter($"cnt" >= 2L)
      .select($"slen".as("lcp"), lit(true).as("same_suffix"),
        shiftright($"wmin", 20).as("doc_a"), ($"wmin" % enc).as("pos_a"),
        shiftright($"wmax", 20).as("doc_b"), ($"wmax" % enc).as("pos_b"))
    val adj = grp.as("a").join(grp.as("b"), $"b.grank" === $"a.grank" + 1L)
      .select(shiftright($"a.wmin", 20).as("doc_a"),
        ($"a.wmin" % enc).as("pos_a"), $"a.slen".as("sa"),
        shiftright($"b.wmin", 20).as("doc_b"),
        ($"b.wmin" % enc).as("pos_b"), $"b.slen".as("sb"))
      .join(docs.select($"doc_id".as("doc_a"), $"toks".as("ta")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"toks".as("tb")), "doc_b")
    val eqRun = zip_with(
      slice($"ta", $"pos_a".cast("int"), least($"sa", $"sb").cast("int")),
      slice($"tb", $"pos_b".cast("int"), least($"sa", $"sb").cast("int")),
      (x, y) => coalesce(x === y, lit(false)))
    // adjacent suffixes are DISTINCT: either they mismatch within the
    // compared span (first false) or the shorter is a proper prefix of
    // the longer (no false → lcp = min length); equal-length slices of
    // distinct adjacent suffixes always contain a mismatch
    val adjLcp = adj.select(
      coalesce(nullif(array_position(eqRun, false), lit(0L)) - 1L,
        least($"sa", $"sb")).as("lcp"),
      lit(false).as("same_suffix"),
      $"doc_a", $"pos_a", $"doc_b", $"pos_b")
    dup.unionByName(adjLcp)
      .filter($"lcp" > 0L)
      .orderBy($"lcp".desc, $"doc_a", $"pos_a", $"doc_b", $"pos_b")
      .limit(20)
  }

  val q133Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
      |pos AS (
      |  SELECT doc_id, tokens, unnest(range(1, len(tokens) + 1)) AS pos
      |  FROM tok),
      |ranked AS (
      |  SELECT doc_id, pos,
      |    dense_rank() OVER (ORDER BY array_to_string(tokens[pos:], ' '))
      |      AS grank,
      |    len(tokens) - pos + 1 AS slen
      |  FROM pos),
      |grp AS (
      |  SELECT grank, COUNT(*) AS cnt,
      |    MIN(doc_id * 1048576 + pos) AS wmin,
      |    MAX(doc_id * 1048576 + pos) AS wmax,
      |    MIN(slen) AS slen
      |  FROM ranked GROUP BY grank),
      |dup AS (
      |  SELECT slen AS lcp, true AS same_suffix,
      |    wmin // 1048576 AS doc_a, wmin % 1048576 AS pos_a,
      |    wmax // 1048576 AS doc_b, wmax % 1048576 AS pos_b
      |  FROM grp WHERE cnt >= 2),
      |adj AS (
      |  SELECT a.wmin // 1048576 AS doc_a, a.wmin % 1048576 AS pos_a,
      |    a.slen AS sa,
      |    b.wmin // 1048576 AS doc_b, b.wmin % 1048576 AS pos_b,
      |    b.slen AS sb
      |  FROM grp a JOIN grp b ON b.grank = a.grank + 1),
      |alcp AS (
      |  SELECT COALESCE(
      |      NULLIF(list_position(list_transform(
      |        range(1, least(sa, sb) + 1),
      |        lx -> ta.tokens[pos_a + lx - 1] = tb.tokens[pos_b + lx - 1]),
      |        false), 0) - 1,
      |      least(sa, sb)) AS lcp,
      |    false AS same_suffix, doc_a, pos_a, doc_b, pos_b
      |  FROM adj
      |  JOIN tok ta ON ta.doc_id = adj.doc_a
      |  JOIN tok tb ON tb.doc_id = adj.doc_b),
      |un AS (
      |  SELECT * FROM dup UNION ALL SELECT * FROM alcp)
      |SELECT CAST(lcp AS BIGINT) AS lcp, same_suffix,
      |  CAST(doc_a AS BIGINT) AS doc_a, CAST(pos_a AS BIGINT) AS pos_a,
      |  CAST(doc_b AS BIGINT) AS doc_b, CAST(pos_b AS BIGINT) AS pos_b
      |FROM un
      |WHERE lcp > 0
      |ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q134
  /** Exact-substring eval decontamination — the suffix-index answer to
    * the question q68 (4-gram collision), q81 (transitive closure), and
    * q121 (embedding cosine) each approximate: for every corpus document,
    * the EXACT length of its longest token substring that also appears
    * anywhere in the eval slice (the q68 `doc_id % 97 = 0` carve), and a
    * contamination flag at ≥ [[Dedup.SpanTokens]] (8 — q76's span width).
    * A 7-token quote under every gate's radar, a 40-token verbatim leak,
    * and an exact eval twin all read as their true lengths here — the
    * n-gram rule quantizes to its fixed width, this does not.
    *
    * Algorithm: in global suffix order, the max LCP of a suffix against a
    * SET of suffixes is achieved at the set's nearest member above or
    * below (LCP over an interval is the min of adjacent LCPs), so each
    * corpus suffix needs only its predecessor and successor EVAL suffix.
    * That nearest-eval scan is computed as a TWO-LEVEL distributed prefix
    * scan — the at-scale shape for a global running-last: a per-bucket
    * running `last(eval, ignoreNulls)` window over ⌈maxrank/4096⌉-wide
    * rank buckets (partitioned, parallel), then a carry-in from the ≤
    * 4096-row bucket summary (a metadata-sized single-partition window,
    * the quantilesFromHistogram precedent), `coalesce`d together. No
    * corpus-sized single-partition anything.
    *
    * The LCP compare is the q131/q133 map-side zip_with first-mismatch
    * over the (suffix, nearest-eval-suffix) pair — O(lcp) per position,
    * doc length bounded by the chunking discipline. Everything downstream
    * of the scan is one groupBy(doc_id) max. */
  /** The generalized nearest-set LCS scan behind q134/q135: per scored
    * doc (those where `setSide` is false), the max token-LCP of any of
    * its suffixes against the suffixes of docs where `setSide` is true.
    * `setSide` is a predicate on doc_id. */
  /** Per-POSITION nearest-set LCP — the scan core of q134/q135 factored
    * so q167's surgical span excision can consume position-level leak
    * lengths (doc_id, pos, lcp) before the per-doc max collapses them. */
  private[graft] def positionLcs(s: SparkSession, dir: String,
      setSide: Column => Column): DataFrame = {
    import s.implicits._
    val enc = 1048576L
    val base = sharedGlobalRanks(s, dir).select($"doc_id", $"pos", $"grank",
      ($"doc_id" * enc + $"pos").as("tie"),
      setSide($"doc_id").as("is_eval"))
    // bucket width: one collected long of metadata (the maxLen precedent)
    val maxG = base.agg(coalesce(max($"grank"), lit(1L)))
      .head.getLong(0).max(1L)
    val bw = ((maxG + 4095L) / 4096L).max(1L)
    val b = base.withColumn("bkt",
      floor(($"grank" - 1L).cast("double") / lit(bw.toDouble)).cast("long"))
    val evalKey = when($"is_eval", struct($"grank", $"tie"))
    val wPrev = Window.partitionBy($"bkt").orderBy($"grank", $"tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy($"bkt").orderBy($"grank".desc, $"tie".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = b
      .withColumn("pin", last(evalKey, ignoreNulls = true).over(wPrev))
      .withColumn("nin", last(evalKey, ignoreNulls = true).over(wNext))
    val bsum = b.groupBy($"bkt")
      .agg(max(evalKey).as("lastE"), min(evalKey).as("firstE"))
    // ≤ 4096 bucket rows — a metadata-sized single-partition scan
    val wbPrev = Window.orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wbNext = Window.orderBy($"bkt".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bsum
      .withColumn("carry_prev", last($"lastE", ignoreNulls = true).over(wbPrev))
      .withColumn("carry_next", last($"firstE", ignoreNulls = true).over(wbNext))
      .select($"bkt", $"carry_prev", $"carry_next")
    val docs = tokDocs(s, dir)
    val withNeighbors = scanned.join(broadcast(carry), "bkt")
      .withColumn("prev_tie", coalesce($"pin", $"carry_prev").getField("tie"))
      .withColumn("next_tie", coalesce($"nin", $"carry_next").getField("tie"))
      .filter(!$"is_eval")
      .select($"doc_id", $"pos",
        shiftright($"prev_tie", 20).as("pdoc"), ($"prev_tie" % enc).as("ppos"),
        shiftright($"next_tie", 20).as("ndoc"), ($"next_tie" % enc).as("npos"))
    val j = withNeighbors
      .join(docs.select($"doc_id", $"toks".as("ta")), "doc_id")
      .join(docs.select($"doc_id".as("pdoc"), $"toks".as("tp")),
        Seq("pdoc"), "left_outer")
      .join(docs.select($"doc_id".as("ndoc"), $"toks".as("tn")),
        Seq("ndoc"), "left_outer")
    def lcpOf(tb: Column, pb: Column): Column = {
      val m = least(size($"ta") - $"pos" + 1L, size(tb) - pb + 1L)
      val eq = zip_with(
        slice($"ta", $"pos".cast("int"), m.cast("int")),
        slice(tb, pb.cast("int"), m.cast("int")),
        (x, y) => coalesce(x === y, lit(false)))
      coalesce(nullif(array_position(eq, false), lit(0L)) - 1L, m.cast("long"))
    }
    j.select($"doc_id", $"pos", greatest(
        coalesce(when($"pdoc".isNotNull, lcpOf($"tp", $"ppos")), lit(0L)),
        coalesce(when($"ndoc".isNotNull, lcpOf($"tn", $"npos")), lit(0L)))
        .as("lcp"))
  }

  private def lcsScan(s: SparkSession, dir: String,
      setSide: Column => Column): DataFrame = {
    import s.implicits._
    val perDoc = positionLcs(s, dir, setSide)
      .groupBy($"doc_id").agg(max($"lcp").as("lcs"))
    tokDocs(s, dir).filter(!setSide($"doc_id"))
      .select($"doc_id", size($"toks").cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_tokens",
        coalesce($"lcs", lit(0L)).as("lcs_tokens"),
        (coalesce($"lcs", lit(0L)) >= Dedup.SpanTokens.toLong)
          .as("flagged"))
      .orderBy($"doc_id")
  }

  def q134EvalLcs(s: SparkSession, dir: String): DataFrame = {
    lcsScan(s, dir, d => d % 97 === 0)
      .withColumnRenamed("lcs_tokens", "eval_lcs_tokens")
      .withColumnRenamed("flagged", "contaminated")
  }

  // --------------------------------------------------------------- q135
  /** Benchmark-exposure report — q134 with the roles swapped: for every
    * EVAL document, the exact length of its longest token substring that
    * appears anywhere in the training corpus, flagged at the same 8-token
    * width. This is the view the BENCHMARK owner reads: q134 tells the
    * corpus curator which training docs to drop; q135 tells the eval
    * owner which test items are already burned (memorizable from
    * training data) regardless of what the curator does next — the two
    * directions of one integrity question, on one scan machinery
    * ([[lcsScan]] with the set side inverted, so the implementations
    * cannot drift). */
  def q135EvalExposure(s: SparkSession, dir: String): DataFrame = {
    lcsScan(s, dir, d => d % 97 =!= 0)
      .withColumnRenamed("lcs_tokens", "corpus_lcs_tokens")
      .withColumnRenamed("flagged", "burned")
  }

  val q134Oracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
       |pos AS (
       |  SELECT doc_id, tokens, unnest(range(1, len(tokens) + 1)) AS pos
       |  FROM tok),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    dense_rank() OVER (ORDER BY array_to_string(tokens[pos:], ' '))
       |      AS grank,
       |    doc_id * 1048576 + pos AS tie,
       |    (doc_id % 97 = 0) AS is_eval
       |  FROM pos),
       |scanned AS (
       |  SELECT doc_id, pos,
       |    last_value(CASE WHEN is_eval THEN tie END IGNORE NULLS)
       |      OVER (ORDER BY grank, tie
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ptie,
       |    first_value(CASE WHEN is_eval THEN tie END IGNORE NULLS)
       |      OVER (ORDER BY grank, tie
       |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ntie
       |  FROM ranked),
       |corp AS (
       |  SELECT s.doc_id, s.pos, s.ptie, s.ntie, t.tokens AS ta
       |  FROM scanned s JOIN tok t USING (doc_id)
       |  WHERE s.doc_id % 97 <> 0),
       |lc AS (
       |  SELECT c.doc_id, GREATEST(
       |    COALESCE(CASE WHEN c.ptie IS NOT NULL THEN
       |      COALESCE(NULLIF(list_position(list_transform(
       |        range(1, least(len(c.ta) - c.pos,
       |                      len(tp.tokens) - (c.ptie % 1048576)) + 2),
       |        lx -> c.ta[c.pos + lx - 1]
       |              = tp.tokens[(c.ptie % 1048576) + lx - 1]), false), 0) - 1,
       |        least(len(c.ta) - c.pos,
       |              len(tp.tokens) - (c.ptie % 1048576)) + 1)
       |      END, 0),
       |    COALESCE(CASE WHEN c.ntie IS NOT NULL THEN
       |      COALESCE(NULLIF(list_position(list_transform(
       |        range(1, least(len(c.ta) - c.pos,
       |                      len(tn.tokens) - (c.ntie % 1048576)) + 2),
       |        lx -> c.ta[c.pos + lx - 1]
       |              = tn.tokens[(c.ntie % 1048576) + lx - 1]), false), 0) - 1,
       |        least(len(c.ta) - c.pos,
       |              len(tn.tokens) - (c.ntie % 1048576)) + 1)
       |      END, 0)) AS lcp
       |  FROM corp c
       |  LEFT JOIN tok tp ON tp.doc_id = c.ptie // 1048576
       |  LEFT JOIN tok tn ON tn.doc_id = c.ntie // 1048576),
       |agg AS (SELECT doc_id, MAX(lcp) AS lcs FROM lc GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.tokens) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(a.lcs, 0) AS BIGINT) AS eval_lcs_tokens,
       |  COALESCE(a.lcs, 0) >= ${Dedup.SpanTokens} AS contaminated
       |FROM tok t LEFT JOIN agg a USING (doc_id)
       |WHERE t.doc_id % 97 <> 0
       |ORDER BY t.doc_id""".stripMargin

  /** q135's oracle is q134's with the set and scored sides swapped and
    * the output columns renamed. Every replacement REQUIREs a change so a
    * future edit to q134's SQL cannot silently no-op a swap and hand q135
    * the wrong semantics (the failure would otherwise surface only as an
    * opaque hash mismatch). */
  val q135Oracle: String = Seq(
    ("(doc_id % 97 = 0) AS is_eval", "(doc_id % 97 <> 0) AS is_eval"),
    ("WHERE s.doc_id % 97 <> 0", "WHERE s.doc_id % 97 = 0"),
    ("WHERE t.doc_id % 97 <> 0", "WHERE t.doc_id % 97 = 0"),
    ("AS eval_lcs_tokens", "AS corpus_lcs_tokens"),
    ("AS contaminated", "AS burned"),
  ).foldLeft(q134Oracle) { case (acc, (from, to)) =>
    val r = acc.replace(from, to)
    require(r != acc, s"q135 oracle surgery no-op: '$from' not in q134Oracle")
    r
  }

  // --------------------------------------------------------------- q167
  /** Surgical span excision — what a curator DOES with q134's finding
    * (Lee et al. 2022 §4 drop whole duplicated spans, not documents):
    * instead of discarding every contaminated document, cut out exactly
    * the leaked token ranges and keep the rest. Position p with
    * nearest-eval LCP ≥ 8 leaks tokens [p, p + lcp); a token t is cut
    * iff ANY earlier-or-equal position reaches past it — computed as ONE
    * running max of reach = p + lcp per doc (never a per-span explode,
    * whose union is O(L²) on a fully-leaked doc), then merged-span
    * counting via a lag on the cut flag. Output per corpus doc: token
    * accounting plus sha256 of the scrubbed text (the full rewrite is
    * the production artifact; the hash is the oracle-comparable
    * witness).
    *
    * Scale shape: the corpus-scale work is the registered q134 scan
    * ([[positionLcs]] — shared code, the two-level distributed prefix
    * scan); everything after is doc-partitioned windows + one
    * groupBy(doc_id) rebuild, i.e. O(tokens) with no new exchange
    * beyond the doc key. */
  def q167SpanScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val span = Dedup.SpanTokens.toLong
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val wCum = wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flags = positionLcs(s, dir, d => d % 97 === 0)
      .withColumn("reach",
        when($"lcp" >= span, $"pos" + $"lcp").otherwise(lit(0L)))
      .withColumn("cut", max($"reach").over(wCum) > $"pos")
      .withColumn("span_start",
        when($"cut" && !coalesce(lag($"cut", 1).over(wDoc), lit(false)), 1L)
          .otherwise(0L))
    val toks = tokDocs(s, dir).filter($"doc_id" % 97 =!= 0)
      .select($"doc_id", posexplode($"toks").as(Seq("p0", "tok")))
      .select($"doc_id", ($"p0" + 1).cast("long").as("pos"), $"tok")
    toks
      .join(flags.select($"doc_id", $"pos", $"cut", $"span_start"),
        Seq("doc_id", "pos"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"cut", 1L).otherwise(0L)).as("removed_tokens"),
        sum($"span_start").as("n_spans"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!$"cut", struct($"pos", $"tok")))),
          x => x.getField("tok"))).as("scrubbed"))
      .select($"doc_id", $"n_tokens", $"removed_tokens", $"n_spans",
        sha2($"scrubbed", 256).as("scrubbed_sha"))
      .orderBy($"doc_id")
  }

  /** Oracle surgery on q134's SQL (the q135 discipline — REQUIREd so an
    * upstream edit cannot silently no-op it): expose the per-position
    * LCP, then replace the per-doc max with the cut/rebuild pipeline. */
  val q167Oracle: String = {
    val cutAt = q134Oracle.indexOf("agg AS (")
    require(cutAt > 0, "q167 oracle surgery: agg CTE not found in q134Oracle")
    val head0 = q134Oracle.substring(0, cutAt)
    val head = head0.replace("SELECT c.doc_id, GREATEST(",
      "SELECT c.doc_id, c.pos, GREATEST(")
    require(head != head0, "q167 oracle surgery: pos projection no-op")
    head + s"""flags AS (
       |  SELECT doc_id, pos,
       |    MAX(CASE WHEN lcp >= ${Dedup.SpanTokens} THEN pos + lcp ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
       |      > pos AS cut
       |  FROM lc),
       |marked AS (
       |  SELECT doc_id, pos, cut,
       |    CASE WHEN cut AND NOT lag(cut, 1, false)
       |      OVER (PARTITION BY doc_id ORDER BY pos) THEN 1 ELSE 0 END
       |      AS span_start
       |  FROM flags)
       |SELECT m.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN m.cut THEN 1 ELSE 0 END) AS BIGINT)
       |    AS removed_tokens,
       |  CAST(SUM(m.span_start) AS BIGINT) AS n_spans,
       |  sha256(COALESCE(string_agg(
       |    CASE WHEN NOT m.cut THEN t.tokens[m.pos] END, ' ' ORDER BY m.pos),
       |    '')) AS scrubbed_sha
       |FROM marked m JOIN tok t USING (doc_id)
       |GROUP BY m.doc_id
       |ORDER BY m.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q134_eval_lcs" -> q134EvalLcs _,
    "q167_span_scrub" -> q167SpanScrub _,
    "q135_eval_exposure" -> q135EvalExposure _,
    "q130_suffix_rank" -> q130SuffixRank _,
    "q131_suffix_stats" -> q131SuffixStats _,
    "q132_global_suffix_rank" -> q132GlobalSuffixRank _,
    "q133_corpus_repeats" -> q133CorpusRepeats _,
  )

  val oracles: Map[String, String] = Map(
    "q134_eval_lcs" -> q134Oracle,
    "q167_span_scrub" -> q167Oracle,
    "q135_eval_exposure" -> q135Oracle,
    "q130_suffix_rank" -> q130Oracle,
    "q131_suffix_stats" -> q131Oracle,
    "q132_global_suffix_rank" -> q132Oracle,
    "q133_corpus_repeats" -> q133Oracle,
  )
}
