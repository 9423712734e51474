package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-layout operators: multi-dimensional clustering keys for scan
  * pruning. A 100 TB table filtered on BOTH user and time wants its files
  * clustered so each file covers a compact region of (user, time) — a
  * linear sort covers one dimension and shreds the other; the Z-order
  * (Morton) curve interleaves the dimensions' bits so ranges of the key
  * map to compact rectangles, which is what makes min/max file statistics
  * prune on every dimension at once (the Delta/Iceberg OPTIMIZE ZORDER
  * idea, built here from plain codegen'd bit arithmetic).
  */
object Layout {

  /** 20-bit Morton interleave of two 10-bit dims: bit i of x lands at
    * 2i, bit i of y at 2i+1. Statically unrolled into 20 codegen'd
    * shift/mask terms — no UDF, no loop at runtime. */
  private[graft] def morton10(x: Column, y: Column): Column =
    (0 until 10).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }

  // ---------------------------------------------------------------- q98
  /** Z-order layout audit over events on (user bucket, minute bucket):
    * every event gets its Morton key, and the key space is tiled by the
    * top 8 bits (zkey div 4096 — each tile is one 64×64 block of the
    * (x, y) grid). Per tile: row count and the exact (x, y) bounding box.
    * The Morton property under audit: every tile's bbox is ≤ 64×64 —
    * bounded locality on BOTH dimensions simultaneously — so files
    * written tile-aligned carry tight min/max stats for user AND time
    * predicates. A linear (x, then y) sort gives the same file count but
    * y-spreads of the whole domain, pruning only one dimension.
    *
    * Scale shape: the key is a map-side projection (20 shift/mask terms,
    * whole-stage codegen); the audit is ONE partial-aggregated groupBy on
    * the tile id (≤ 256 groups at any scale). The production write is
    * `repartitionByRange(zkey)` + per-file stats — a cluster-wide range
    * sort, no global window anywhere. */
  def q98ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyed = Tables(s, dir, "events")
      .withColumn("x", pmod($"user_id", lit(1024L)))
      .withColumn("y", pmod(expr("unix_millis(ts) div 60000"), lit(1024L)))
      .withColumn("zkey", morton10($"x", $"y"))
    keyed
      .withColumn("tile", expr("zkey div 4096"))
      .groupBy($"tile")
      .agg(count(lit(1)).as("n_events"),
        min($"x").as("min_x"), max($"x").as("max_x"),
        min($"y").as("min_y"), max($"y").as("max_y"))
      .withColumn("bbox_area",
        ($"max_x" - $"min_x" + 1L) * ($"max_y" - $"min_y" + 1L))
      .select($"tile", $"n_events", $"min_x", $"max_x", $"min_y", $"max_y",
        $"bbox_area")
      .orderBy($"tile")
  }

  /** The same 20-term interleave, unrolled in SQL. Spark's `/` on longs is
    * integer division only via `div`, so the minute index uses `//` on the
    * DuckDB side and `div`-free cast arithmetic is avoided on both. */
  /** The 20-term Morton-interleave SQL (shared by q98's oracle, q202's
    * z-order file assignment, and the q205/q206 manifest-cell oracles —
    * one generator, so they cannot diverge); valid Spark SQL and DuckDB
    * verbatim. */
  private[graft] def mortonSql(x: String, y: String): String =
    (0 until 10).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  val q98Oracle: String = {
    s"""WITH keyed AS (
       |  SELECT ${Sql.pmod("user_id", 1024)} AS x,
       |    ${Sql.pmod("epoch_ms(ts) // 60000", 1024)} AS y
       |  FROM events),
       |zk AS (SELECT x, y, ${mortonSql("x", "y")} AS zkey FROM keyed)
       |SELECT zkey // 4096 AS tile, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y,
       |  (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS bbox_area
       |FROM zk GROUP BY 1 ORDER BY tile""".stripMargin
  }

  // ---------------------------------------------------------------- q192
  /** Range-partition planner audit — the primitive under EVERY range
    * exchange and sorted write (repartitionByRange, terasort, Iceberg
    * sort orders): pick P−1 boundary keys, assign rows by comparison,
    * and grade the balance. Range partitioning CANNOT split a duplicated
    * key across partitions, so boundary keys with heavy duplication
    * produce structural skew no sampler can fix — exactly what this
    * audit surfaces per partition (`skew_milli` = 1000·n·P div N; 1000 =
    * perfectly balanced) including EMPTY ranges where duplicates
    * collapsed adjacent boundaries. The planner here computes EXACT
    * boundary ranks (b_i = min key whose cumulative count reaches
    * ⌊i·N/P⌋+1) so the audit is deterministic and oracle-checkable; a
    * production exchange swaps in sampled ranks, same shape.
    *
    * Scale shape: ONE corpus pass partial-aggregates to the distinct-key
    * table; everything after (cumulative counts, boundary election,
    * assignment) runs on |keys| rows. The cumulative ranks are TWO-LEVEL
    * (VERDICT r13 #5): the key domain here is `user_id` — user-sized,
    * not vocabulary-sized — so a global `Window.orderBy(k)` would funnel
    * the whole distinct-key table through ONE partition. Instead the key
    * table range-partitions on k (range i's keys all sort before range
    * i+1's — the RangePartitioner contract), each range cumulates
    * locally in parallel, and the R per-range totals prefix-sum on
    * METADATA (an R-row single-partition window) into broadcast
    * exclusive offsets. Boundaries (P−1 rows) broadcast to the
    * assignment join. */
  def q192RangePlanner(s: SparkSession, dir: String,
      parts: Int = 32): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val keyCnt = Tables(s, dir, "events")
      .groupBy($"user_id".as("k")).agg(count(lit(1)).as("cnt"))
    val ranges = 8
    val ranged = keyCnt.repartitionByRange(ranges, $"k")
      // pin ONE partition assignment before reading spark_partition_id:
      // a sampled range exchange feeding multiple consumers can
      // re-execute with different boundaries (the ExactDecontamStream
      // divergence, r12) — the checkpoint makes pid a stable column
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val local = ranged.withColumn("lcum",
      sum($"cnt").over(Window.partitionBy($"pid").orderBy($"k")))
    val offsets = ranged.groupBy($"pid").agg(sum($"cnt").as("ptotal"))
      .withColumn("off", coalesce(
        sum($"ptotal").over(Window.orderBy($"pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"pid", $"off")
    val cum = local.join(broadcast(offsets), Seq("pid"))
      .select($"k", $"cnt", ($"lcum" + $"off").as("cum"))
      .localCheckpoint(true)
    val total = cum.agg(sum($"cnt").as("n"))
    val spine = (1 until parts).toDF("i")
    val bounds = spine.crossJoin(broadcast(total))
      .withColumn("t", expr(s"i * n div $parts"))
      .join(cum, $"cum" >= $"t" + 1L)
      .groupBy($"i").agg(min($"k").as("b"))
    val assigned = cum
      .join(broadcast(bounds.select($"b")), $"b" <= $"k", "left")
      .groupBy($"k", $"cnt").agg(count($"b").as("pid"))
    val stats = assigned.groupBy($"pid")
      .agg(sum($"cnt").as("n_rows"), min($"k").as("lo_key"),
        max($"k").as("hi_key"))
    (0 until parts).toDF("pid0")
      .select($"pid0".cast("long").as("pid"))
      .join(stats, Seq("pid"), "left")
      .crossJoin(broadcast(total))
      .select($"pid", $"lo_key", $"hi_key",
        coalesce($"n_rows", lit(0L)).as("n_rows"),
        expr(s"n div $parts").as("ideal_rows"),
        expr(s"1000 * coalesce(n_rows, 0) * $parts div n").as("skew_milli"))
      .orderBy($"pid")
  }

  val q192Oracle: String =
    s"""WITH kc AS (
       |  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1),
       |cum AS (SELECT k, cnt, SUM(cnt) OVER (ORDER BY k) AS cum FROM kc),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM kc),
       |bounds AS (
       |  SELECT i, MIN(k) AS b
       |  FROM (SELECT unnest(range(1, 32)) AS i), tot, cum
       |  WHERE cum >= (i * n) // 32 + 1 GROUP BY i),
       |assigned AS (
       |  SELECT c.k, c.cnt,
       |    (SELECT COUNT(*) FROM bounds b WHERE b.b <= c.k) AS pid
       |  FROM cum c),
       |stats AS (
       |  SELECT pid, CAST(SUM(cnt) AS BIGINT) AS n_rows,
       |    MIN(k) AS lo_key, MAX(k) AS hi_key
       |  FROM assigned GROUP BY pid)
       |SELECT CAST(p.pid AS BIGINT) AS pid, s.lo_key, s.hi_key,
       |  COALESCE(s.n_rows, 0) AS n_rows,
       |  (SELECT n // 32 FROM tot) AS ideal_rows,
       |  CAST(1000 * COALESCE(s.n_rows, 0) * 32 // (SELECT n FROM tot)
       |    AS BIGINT) AS skew_milli
       |FROM (SELECT unnest(range(0, 32)) AS pid) p
       |LEFT JOIN stats s ON s.pid = p.pid
       |ORDER BY pid""".stripMargin

  // ---------------------------------------------------------------- q197
  /** Selectivity-estimation audit — the optimizer-statistics loop made
    * inspectable: build the 4096-bin histogram a cost model would keep
    * for `l_extendedprice`, estimate 20 range predicates from it (full
    * bins below the threshold + HALF the straddling bin — the classic
    * no-intra-bucket-knowledge rule, all integer), and grade each
    * estimate against the exact count with a signed milli relative
    * error. The audit shows exactly where histogram resolution helps and
    * where the half-bucket rule bites — the evidence behind every
    * join-ordering and exchange-sizing decision a planner makes.
    *
    * Determinism: thresholds are min + k·(max−min)/20 — the same IEEE
    * double expression on both engines, then floored to milli for
    * output; bin ids floor identically; estimator and error are pure
    * int64.
    *
    * Scale shape: three scans — min/max agg; the map-side binned
    * partial agg to the 4096-row histogram; and ONE pass computing all
    * 20 exact counts as conditional aggregates (stacked to tall rows
    * afterward — never a fact×predicate explode). Estimation itself
    * runs on the histogram (metadata). */
  /** The q197 histogram geometry, shared VERBATIM with the S28 streaming
    * maintenance ([[graft.streaming.StatsStream]]) so the staged and the
    * batch-built histogram cannot disagree on a bin: 4096 equi-width bins
    * over [mn, mx], value→bin by the floor expression below (the bound
    * columns, `mn` and `mx` unless named, must be in scope). The one
    * copy of the formula: every histogram and threshold bin of the
    * statistics audits and their oracles is this text (valid Spark SQL
    * and DuckDB alike). */
  private[graft] val HistBins = 4096
  private[graft] def histBinOf(e: String, mn: String = "mn",
      mx: String = "mx"): String =
    s"least(cast(floor((($e) - $mn) * $HistBins / ($mx - $mn)) as bigint), " +
      s"${HistBins - 1L})"

  def q197Selectivity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 20
    val li = Tables(s, dir, "lineitem").select($"l_extendedprice".as("p"))
    val mm = li.agg(min($"p").as("mn"), max($"p").as("mx"))
      .localCheckpoint(true)
    def thr(k: Int): String = s"(mn + (cast($k as double) * (mx - mn)) / $K.0)"
    val hist = li.crossJoin(broadcast(mm))
      .select(expr(histBinOf("p")).as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val preds = (1 to K).toDF("k").crossJoin(broadcast(mm))
      .withColumn("t", expr(s"mn + (cast(k as double) * (mx - mn)) / $K.0"))
      .withColumn("tbin", expr(histBinOf("t")))
    val est = preds.join(broadcast(hist), $"bin" <= $"tbin")
      .groupBy($"k", $"t")
      .agg(sum(when($"bin" < $"tbin", $"n").otherwise(expr("n div 2")))
        .as("est_rows"))
    val actual = li.crossJoin(broadcast(mm))
      .agg(count(when($"p" <= expr(thr(1)), 1)).as("a_1"),
        (2 to K).map(k =>
          count(when($"p" <= expr(thr(k)), 1)).as(s"a_$k")): _*)
      .selectExpr(s"stack($K, " +
        (1 to K).map(k => s"$k, a_$k").mkString(", ") + ") as (k, actual_rows)")
    est.join(actual, "k")
      .select($"k".cast("long").as("pred_id"),
        expr("cast(floor(t * 1000) as bigint)").as("threshold_milli"),
        $"est_rows", $"actual_rows",
        expr("(1000 * (est_rows - actual_rows)) div greatest(actual_rows, 1)")
          .as("err_milli"))
      .orderBy($"pred_id")
  }

  val q197Oracle: String =
    s"""WITH mm AS (
       |  SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
       |  FROM lineitem),
       |hist AS (
       |  SELECT ${histBinOf("l_extendedprice")} AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM lineitem, mm GROUP BY 1),
       |preds AS (
       |  SELECT k, mn + (CAST(k AS DOUBLE) * (mx - mn)) / 20.0 AS t, mn, mx
       |  FROM (SELECT unnest(range(1, 21)) AS k), mm),
       |pt AS (
       |  SELECT k, t, ${histBinOf("t")} AS tbin
       |  FROM preds),
       |est AS (
       |  SELECT k, t,
       |    CAST(SUM(CASE WHEN h.bin < p.tbin THEN h.n ELSE h.n // 2 END)
       |      AS BIGINT) AS est_rows
       |  FROM pt p JOIN hist h ON h.bin <= p.tbin GROUP BY 1, 2),
       |act AS (
       |  SELECT k,
       |    CAST(COUNT(CASE WHEN l_extendedprice <= t THEN 1 END) AS BIGINT)
       |      AS actual_rows
       |  FROM lineitem, pt GROUP BY k)
       |SELECT CAST(e.k AS BIGINT) AS pred_id,
       |  CAST(FLOOR(e.t * 1000) AS BIGINT) AS threshold_milli,
       |  e.est_rows, a.actual_rows,
       |  CAST((1000 * (e.est_rows - a.actual_rows))
       |    // GREATEST(a.actual_rows, 1) AS BIGINT) AS err_milli
       |FROM est e JOIN act a USING (k) ORDER BY pred_id""".stripMargin

  // ---------------------------------------------------------------- q198
  /** Correlated-selectivity audit — q197's sequel, and the reason real
    * optimizers mis-plan: conjunctive predicates are routinely estimated
    * under the ATTRIBUTE-INDEPENDENCE assumption (est(A∧B) =
    * est(A)·est(B)/N), which collapses when columns are correlated.
    * `n_chars` and the token count of the SAME document are nearly
    * perfectly correlated by construction, so this audit grades BOTH
    * textbook estimators on a 4×4 conjunctive threshold grid: the
    * independence product and the perfect-correlation `min` rule — the
    * output shows actuals hugging est_min and the independence estimate
    * off by up to ~4× exactly where the two marginal selectivities
    * diverge. This is the evidence a planner needs to justify
    * multi-column statistics (the q98 z-order argument's statistical
    * twin).
    *
    * Scale shape: q197's — min/max agg, two map-side 4096-bin histogram
    * partial aggs over ONE scan each, and one pass computing all 16
    * exact conjunctive counts as conditional aggregates; estimation runs
    * on histogram metadata. est_x·est_y peaks at N² — int64-safe to
    * ~3·10⁹ rows per audited shard; divide-first beyond (documented). */
  def q198CorrelatedSelectivity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 4
    val d = Tables(s, dir, "documents").filter($"text".isNotNull)
      .select($"n_chars".cast("double").as("x"),
        size(split($"text", " ")).cast("double").as("y"))
    val mm = d.agg(min($"x").as("mnx"), max($"x").as("mxx"),
      min($"y").as("mny"), max($"y").as("mxy"),
      count(lit(1)).as("n")).localCheckpoint(true)
    def thrX(i: Int): String = s"(mnx + (cast($i as double) * (mxx - mnx)) / $K.0)"
    def thrY(j: Int): String = s"(mny + (cast($j as double) * (mxy - mny)) / $K.0)"
    val histX = d.crossJoin(broadcast(mm))
      .select(expr(histBinOf("x", "mnx", "mxx")).as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("nb")).localCheckpoint(true)
    val histY = d.crossJoin(broadcast(mm))
      .select(expr(histBinOf("y", "mny", "mxy")).as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("nb")).localCheckpoint(true)
    def marginal(hist: DataFrame, thr: Int => String,
        mn: String, mx: String, idc: String): DataFrame = {
      val preds = (1 to K).toDF(idc).crossJoin(broadcast(mm))
        .withColumn("t", expr(s"$mn + (cast($idc as double) * ($mx - $mn)) / $K.0"))
        .withColumn("tbin", expr(histBinOf("t", mn, mx)))
      preds.join(broadcast(hist), $"bin" <= $"tbin")
        .groupBy(col(idc), $"t")
        .agg(sum(when($"bin" < $"tbin", $"nb").otherwise(expr("nb div 2")))
          .as(s"est_$idc"))
    }
    val estX = marginal(histX, thrX, "mnx", "mxx", "pi")
      .select($"pi", $"t".as("tx"), $"est_pi".as("est_x"))
    val estY = marginal(histY, thrY, "mny", "mxy", "qi")
      .select($"qi", $"t".as("ty"), $"est_qi".as("est_y"))
    val actual = d.crossJoin(broadcast(mm))
      .agg(count(when($"x" <= expr(thrX(1)) && $"y" <= expr(thrY(1)), 1))
          .as("a_1_1"),
        (for { i <- 1 to K; j <- 1 to K; if (i, j) != ((1, 1)) } yield
          count(when($"x" <= expr(thrX(i)) && $"y" <= expr(thrY(j)), 1))
            .as(s"a_${i}_$j")): _*)
      .selectExpr(s"stack(${K * K}, " +
        (for { i <- 1 to K; j <- 1 to K } yield s"$i, $j, a_${i}_$j")
          .mkString(", ") + ") as (pi, qi, actual_rows)")
    actual.join(broadcast(estX), "pi").join(broadcast(estY), "qi")
      .crossJoin(broadcast(mm.select($"n")))
      .select($"pi".cast("long").as("pi"), $"qi".cast("long").as("qi"),
        expr("cast(floor(tx * 1000) as bigint)").as("tx_milli"),
        expr("cast(floor(ty * 1000) as bigint)").as("ty_milli"),
        $"est_x", $"est_y",
        expr("est_x * est_y div n").as("est_indep"),
        least($"est_x", $"est_y").as("est_min"),
        $"actual_rows",
        expr("(1000 * (est_x * est_y div n - actual_rows))" +
          " div greatest(actual_rows, 1)").as("err_indep_milli"),
        expr("(1000 * (least(est_x, est_y) - actual_rows))" +
          " div greatest(actual_rows, 1)").as("err_min_milli"))
      .orderBy($"pi", $"qi")
  }

  val q198Oracle: String = {
    val acts = (for { i <- 1 to 4; j <- 1 to 4 } yield
      s"CAST(COUNT(CASE WHEN x <= mnx + ($i * (mxx - mnx)) / 4.0" +
        s" AND y <= mny + ($j * (mxy - mny)) / 4.0 THEN 1 END) AS BIGINT)" +
        s" AS a_${i}_$j").mkString(",\n    ")
    val actArms = (for { i <- 1 to 4; j <- 1 to 4 } yield
      s"SELECT $i AS pi, $j AS qi, a_${i}_$j AS actual_rows FROM act")
      .mkString("\nUNION ALL ")
    s"""WITH d AS (
       |  SELECT CAST(n_chars AS DOUBLE) AS x,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS y
       |  FROM documents WHERE text IS NOT NULL),
       |mm AS (
       |  SELECT MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM d),
       |hx AS (
       |  SELECT ${histBinOf("x", "mnx", "mxx")} AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS nb
       |  FROM d, mm GROUP BY 1),
       |hy AS (
       |  SELECT ${histBinOf("y", "mny", "mxy")} AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS nb
       |  FROM d, mm GROUP BY 1),
       |px AS (
       |  SELECT pi, mnx + (CAST(pi AS DOUBLE) * (mxx - mnx)) / 4.0 AS tx,
       |    mnx, mxx FROM (SELECT unnest(range(1, 5)) AS pi), mm),
       |py AS (
       |  SELECT qi, mny + (CAST(qi AS DOUBLE) * (mxy - mny)) / 4.0 AS ty,
       |    mny, mxy FROM (SELECT unnest(range(1, 5)) AS qi), mm),
       |ex AS (
       |  SELECT pi, tx, CAST(SUM(CASE WHEN h.bin < ${histBinOf("tx", "mnx", "mxx")}
       |      THEN h.nb ELSE h.nb // 2 END) AS BIGINT) AS est_x
       |  FROM px p JOIN hx h ON h.bin <= ${histBinOf("tx", "mnx", "mxx")}
       |  GROUP BY 1, 2),
       |ey AS (
       |  SELECT qi, ty, CAST(SUM(CASE WHEN h.bin < ${histBinOf("ty", "mny", "mxy")}
       |      THEN h.nb ELSE h.nb // 2 END) AS BIGINT) AS est_y
       |  FROM py p JOIN hy h ON h.bin <= ${histBinOf("ty", "mny", "mxy")}
       |  GROUP BY 1, 2),
       |act AS (
       |  SELECT
       |    $acts
       |  FROM d, mm)
       |SELECT CAST(a.pi AS BIGINT) AS pi, CAST(a.qi AS BIGINT) AS qi,
       |  CAST(FLOOR(ex.tx * 1000) AS BIGINT) AS tx_milli,
       |  CAST(FLOOR(ey.ty * 1000) AS BIGINT) AS ty_milli,
       |  ex.est_x, ey.est_y,
       |  CAST(ex.est_x * ey.est_y // nn.n AS BIGINT) AS est_indep,
       |  LEAST(ex.est_x, ey.est_y) AS est_min,
       |  a.actual_rows,
       |  CAST((1000 * (ex.est_x * ey.est_y // nn.n - a.actual_rows))
       |    // GREATEST(a.actual_rows, 1) AS BIGINT) AS err_indep_milli,
       |  CAST((1000 * (LEAST(ex.est_x, ey.est_y) - a.actual_rows))
       |    // GREATEST(a.actual_rows, 1) AS BIGINT) AS err_min_milli
       |FROM ($actArms) a
       |JOIN ex ON ex.pi = a.pi
       |JOIN ey ON ey.qi = a.qi, (SELECT n AS n FROM mm) nn
       |ORDER BY pi, qi""".stripMargin
  }

  // ---------------------------------------------------------------- q199
  /** Join-cardinality estimation audit — the third leg of the optimizer-
    * statistics family (q197 single-predicate, q198 conjunctions, here
    * JOINS): for every FK edge of the TPC-H snowflake, estimate
    * |A ⋈ B| by the classic System-R containment-of-values rule
    * — est = |A|·|B| div max(ndv(A.k), ndv(B.k)) (uniform values,
    * contained key domains; Selinger et al. 1979, the formula every
    * cost-based join reorder still starts from) — and grade it against
    * the exact join count with the q197 signed milli error. On clean FK
    * data the rule is near-exact (every fact key hits, ndv(parent) =
    * parent count) — so two STRESS edges exercise the assumptions where
    * they actually break: a self-join on the skewed `n_chars` attribute,
    * where Σ n(v)² exceeds N²/D by the second frequency moment (the
    * classic ~20% underestimation that motivates frequency histograms
    * beyond plain ndv), and the near-uniform o_orderdate⋈l_shipdate
    * non-key join as the within-1% contrast row.
    *
    * Scale shape (reworked r15, VERDICT r14 #4 — no materialized join
    * anywhere): a four-stage linear plan. (1) One per-value COUNT TABLE
    * per distinct (table, key) side — 16 of them, each a column-pruned
    * scan whose partial agg runs inside the scan task, so every shuffle
    * carries key-domain rows; values cast to string after aggregation
    * so all 16 union into one tagged frame (casts are injective and
    * both members of every edge cast from the same type, so equality
    * and distinctness are preserved). (2) ONE pivot groupBy on the
    * value domain: per distinct v, the 16 side counts as columns.
    * (3) ONE wide 1-row aggregate computes every output at once — per
    * side n = Σ counts and ndv = non-null-value count (identical
    * integers to the count/countDistinct legs they replace), per edge
    * the exact count by the identity |A ⋈ B| = Σ_v a(v)·b(v).
    * (4) stack() fans the wide row to the 9 edge rows (the q197
    * pattern — union-of-projections over one agg would re-aggregate
    * per branch). The corpus is touched once per side and the whole
    * audit is TWO shuffles of value-domain-sized data — the r14 shape
    * paid 30+ scans, 18 countDistinct legs, a genuine lineitem⋈orders
    * fact⋈fact shuffle and three lineitem row-pair probes for the same
    * integers (7.35s → 1.9s isolated at sf0.1). Two rejected variants,
    * for the record: per-edge Σ a(v)·b(v) joins still re-scan every
    * side twice (the join's pushed IsNotNull(key) de-canonicalizes its
    * exchange against the stats leg's, so exchange reuse never fires),
    * and a checkpointed shared count frame loses its partitioning
    * through LogicalRDD, so the 9 joins re-shuffle anyway. The DuckDB
    * oracle keeps the literal joins on the FK edges — same integers,
    * independent derivation. The estimator itself reads ONLY the wide
    * stats row (pure integer arithmetic; at SF1000 `n_left·n_right`
    * wants DECIMAL headroom — longs are exact at every test SF and the
    * engine fails LOUDLY past the boundary, both machine-checked by
    * LayoutSpec's "int64 headroom" spec over [[q199EstSql]]). */
  /** The 9 audited edges: (name, left table, left key, right table,
    * right key). `documents_chars_self` is the skew stress row (n_chars
    * duplicates concentrate mass — Σ n(v)² beats N²/D by the second
    * frequency moment, the underestimation that motivates frequency
    * histograms beyond plain ndv, err ≈ −207‰); `orders_lineitem_date`
    * is the near-uniform non-key contrast row (within ~1%). */
  private val q199Edges = Seq(
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("documents_chars_self", "documents", "n_chars", "documents", "n_chars"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("orders_lineitem_date", "orders", "o_orderdate", "lineitem", "l_shipdate"),
    ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  /** The containment estimator over a stats row — ONE generator shared
    * by q199's stack legs and the LayoutSpec int64-headroom spec, so the
    * overflow boundary the spec pins is the boundary of the expression
    * the audit actually runs. */
  private[graft] def q199EstSql(nl: String, nr: String,
      ndl: String, ndr: String): String =
    s"$nl * $nr div greatest($ndl, $ndr)"

  def q199JoinCardinality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def t(n: String): DataFrame = Tables(s, dir, n)
    val sides: Seq[(String, String)] =
      q199Edges.flatMap { case (_, lt, lk, rt, rk) => Seq(lt -> lk, rt -> rk) }
        .distinct
    val sideIdx: Map[(String, String), Int] = sides.zipWithIndex.toMap
    // Stage 1 — one aggregated count table per side: the groupBy's
    // partial agg runs inside each (column-pruned) scan task, so each
    // shuffle carries key-domain rows; values cast to string AFTER
    // aggregation so all 16 union into one tagged frame. Null keys form
    // a tagged null group (n must sum them, as count(*) did).
    val counts = sides.map { case (tbl, key) =>
      t(tbl).groupBy(col(key).as("vk")).agg(count(lit(1)).as("n"))
        .select(lit(sideIdx((tbl, key))).as("side"),
          col("vk").cast("string").as("v"), col("n"))
    }.reduce(_.unionByName(_))
    // Stage 2 — ONE pivot on the value domain: per distinct v, the 16
    // per-side counts as columns (c0..c15). Unrelated sides sharing a
    // string value coexist in one row harmlessly — every consumer below
    // touches only its own columns.
    val byV = counts.groupBy($"v")
      .agg(sum(when($"side" === 0, $"n")).as("c0"),
        sides.indices.tail.map(i =>
          sum(when($"side" === i, $"n")).as(s"c$i")): _*)
    // Stage 3 — ONE wide 1-row aggregate carries every output: per side
    // n = Σ counts (null-v row included, as count(*) was) and ndv =
    // count of non-null values; per edge the exact inner-join count by
    // the identity Σ_v n_L(v)·n_R(v) (the null-v row excluded — an
    // equi-join never matches null). Identical integers to the
    // count/countDistinct/join legs this replaces.
    val aggs =
      sides.indices.map(i => coalesce(sum(s"c$i"), lit(0L)).as(s"nt_$i")) ++
      sides.indices.map(i =>
        count(when($"v".isNotNull && col(s"c$i").isNotNull, 1)).as(s"nd_$i")) ++
      q199Edges.zipWithIndex.map { case ((_, lt, lk, rt, rk), e) =>
        val (li, ri) = (sideIdx((lt, lk)), sideIdx((rt, rk)))
        coalesce(sum(when($"v".isNotNull,
          coalesce(col(s"c$li"), lit(0L)) * coalesce(col(s"c$ri"), lit(0L)))),
          lit(0L)).as(s"x_$e")
      }
    val wide = byV.agg(aggs.head, aggs.tail: _*)
    // Stage 4 — stack the wide row to the 9 edge rows; est and err are
    // pure integer expressions over the wide columns (q197's
    // one-wide-aggregate + stack pattern: union-of-projections over a
    // single agg would re-aggregate per branch).
    val rows = q199Edges.zipWithIndex.map { case ((name, lt, lk, rt, rk), e) =>
      val (li, ri) = (sideIdx((lt, lk)), sideIdx((rt, rk)))
      val est = q199EstSql(s"nt_$li", s"nt_$ri", s"nd_$li", s"nd_$ri")
      s"'$name', nt_$li, nt_$ri, nd_$li, nd_$ri, cast(($est) as bigint), " +
        s"x_$e, cast(((1000 * (($est) - x_$e)) div greatest(x_$e, 1)) " +
        "as bigint)"
    }
    wide.selectExpr(s"stack(${q199Edges.size}, ${rows.mkString(", ")}) " +
      "as (join_edge, n_left, n_right, ndv_left, ndv_right, est_rows, " +
      "exact_rows, err_milli)")
      .orderBy($"join_edge")
  }

  val q199Oracle: String = {
    def edgeWith(name: String, lt: String, lk: String, rt: String,
        rk: String, exactSql: String): String =
      s"""SELECT '$name' AS join_edge,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $lt) AS n_left,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $rt) AS n_right,
         |  (SELECT CAST(COUNT(DISTINCT $lk) AS BIGINT) FROM $lt) AS ndv_left,
         |  (SELECT CAST(COUNT(DISTINCT $rk) AS BIGINT) FROM $rt) AS ndv_right,
         |  CAST((SELECT COUNT(*) FROM $lt) * (SELECT COUNT(*) FROM $rt)
         |    // GREATEST((SELECT COUNT(DISTINCT $lk) FROM $lt),
         |               (SELECT COUNT(DISTINCT $rk) FROM $rt)) AS BIGINT)
         |    AS est_rows,
         |  CAST(($exactSql) AS BIGINT) AS exact_rows,
         |  CAST((1000 * (CAST((SELECT COUNT(*) FROM $lt)
         |        * (SELECT COUNT(*) FROM $rt)
         |        // GREATEST((SELECT COUNT(DISTINCT $lk) FROM $lt),
         |                   (SELECT COUNT(DISTINCT $rk) FROM $rt)) AS BIGINT)
         |      - ($exactSql)))
         |    // GREATEST(($exactSql), 1)
         |    AS BIGINT) AS err_milli""".stripMargin
    def edge(name: String, lt: String, lk: String, rt: String, rk: String)
        : String =
      edgeWith(name, lt, lk, rt, rk,
        s"SELECT COUNT(*) FROM $lt JOIN $rt ON $lk = $rk")
    def edgeByCounts(name: String, lt: String, lk: String, rt: String,
        rk: String): String =
      edgeWith(name, lt, lk, rt, rk,
        s"SELECT COALESCE(SUM(a.n * b.n), 0) FROM " +
          s"(SELECT $lk AS v, COUNT(*) AS n FROM $lt GROUP BY 1) a JOIN " +
          s"(SELECT $rk AS v, COUNT(*) AS n FROM $rt GROUP BY 1) b " +
          s"ON a.v = b.v")
    Seq(
      edge("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edgeByCounts("documents_chars_self",
        "documents", "n_chars", "documents", "n_chars"),
      edge("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
      edge("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
      edgeByCounts("orders_lineitem_date",
        "orders", "o_orderdate", "lineitem", "l_shipdate"),
      edge("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ).mkString("", "\nUNION ALL\n", "\nORDER BY join_edge")
  }

  // ---------------------------------------------------------------- q200
  /** Distinct-count sketch audit — the fourth leg of the optimizer-
    * statistics family, and the one that closes q199's open loop: q199
    * reads ndv "from the catalog for free", and THIS is the sketch a
    * catalog actually keeps. K-minimum-values (Bar-Yossef et al. 2002;
    * the AKMV/theta-sketch family behind DataSketches): hash every value
    * with a fixed integer bijection into [0, P), keep the K smallest
    * DISTINCT hashes; if fewer than K exist the sketch is exhaustive
    * (est = what it holds), otherwise est = (K−1)·P div h_(K) — the
    * classic unbiased estimator, pure int64 on both engines. The audited
    * columns span the three regimes a catalog meets: ndv ≪ K (nationkey,
    * p_size — exact path), ndv ≈ K (o_custkey, l_partkey, user_id —
    * straddles K across scale factors), ndv ≫ K (l_orderkey — the
    * estimator earns its keep), plus the SKEWED `n_chars` (row
    * multiplicity is invisible to a distinct-hash sketch — the property
    * that makes KMV beat row sampling for ndv, the q199 skew lesson's
    * counterpart).
    *
    * Determinism: the hash is two affine rounds mod the Mersenne prime
    * P = 2^31−1 — a BIJECTION on [0, P) (affine maps mod a prime are
    * invertible), so distinct hashes ≡ distinct values at every test SF
    * (key domains < P; the fold documents the general case) and the
    * k-th order statistic is a pure function of the column. Both engines
    * evaluate the identical integer expression ([[kmvHashSql]], shared
    * verbatim like q197's [[histBinOf]]).
    *
    * Scale shape: two legs per column riding parallel branches of ONE
    * action (the q199 lesson — don't serialize tiny jobs). The exact-ndv
    * leg is the audit's truth price (countDistinct: map-side partial
    * distinct, ndv-sized shuffle). The sketch leg is the production
    * shape: map-side partial distinct on the hash, TakeOrdered(K) — the
    * shuffle carries per-partition distinct hashes and the result is K
    * rows. A production pipeline never pays the exact leg: S29
    * ([[graft.streaming.NdvStream]]) maintains the same K-minima
    * artifact per micro-batch with NO staged bounds at all (the hash
    * domain is fixed a priori — contrast S28's staged histogram bounds),
    * and k-min-of-union is associative, so any batching merges to
    * EXACTLY the one-pass sketch. */
  private[graft] val KmvK = 1024
  private[graft] val KmvP = 2147483647L
  /** The shared KMV hash — two affine rounds mod P (bijective on
    * [0, P)); valid Spark SQL and DuckDB SQL verbatim. The leading
    * `% P + P) % P` fold normalizes values outside [0, P) (none exist at
    * test SFs; at SF1000 an 8-byte key folds, costing the bijection but
    * not the estimator). */
  private[graft] def kmvHashSql(e: String): String =
    s"(((cast(($e) as bigint) % $KmvP + $KmvP) % $KmvP" +
      s" * 48271 + 12345) % $KmvP * 69621 + 67890) % $KmvP"

  /** The KMV estimate from (rows held, k-th smallest hash) — shared with
    * [[graft.streaming.NdvStream]] and the spec's local replay. */
  private[graft] def kmvEstimate(sketchRows: Long, kthHash: Long): Long =
    if (sketchRows < KmvK) sketchRows
    else (KmvK - 1L) * KmvP / math.max(kthHash, 1L)

  def q200NdvSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def leg(table: String, column: String): DataFrame = {
      val base = Tables(s, dir, table)
      // ONE LINEAR CHAIN per column serves BOTH legs (r15: the r14 shape
      // paid two full scans + two value-domain shuffles per column —
      // countDistinct for the truth, distinct hashes for the sketch; a
      // shared distinct-value subplan did NOT dedupe either, because
      // Catalyst rewrites the count-over-distinct consumer into a
      // different aggregate than the sketch consumer, so the exchanges
      // never canonicalize equal — 0 ReusedExchange, 14 scans measured).
      // Chain: distinct values (partial agg in the scan task) → hash →
      // distinct hashes CARRYING the value count per hash (nv — exact
      // ndv is Σ nv, correct even if the fold ever collided two values
      // onto one hash) → one global window ranks the ndv-sized hash
      // table once, and a single wide aggregate reads off the exact
      // count, the sketch size, and the k-th minimum together. One scan
      // per column; every exchange is ndv-sized or smaller; the final
      // window orders value-domain metadata (the q203 discipline).
      val hashes = base.where(col(column).isNotNull)
        .select(col(column).as("v")).distinct()
        .select(expr(kmvHashSql("v")).as("h"))
        .groupBy($"h").agg(count(lit(1)).as("nv"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"h")
      val wide = hashes.withColumn("r", row_number().over(w))
        .agg(coalesce(sum($"nv"), lit(0L)).as("exact_ndv"),
          count(when($"r" <= KmvK, 1)).as("sketch_rows"),
          coalesce(max(when($"r" <= KmvK, $"h")), lit(0L)).as("kth_hash"))
      wide
        .select(lit(s"$table.$column").as("col_id"),
          $"exact_ndv", $"sketch_rows", $"kth_hash",
          // (K−1)·P precomputed: as a literal product both parsers would
          // type it INT×INT (silent wrap here, error in DuckDB)
          when($"sketch_rows" < KmvK, $"sketch_rows")
            .otherwise(expr(
              s"${(KmvK - 1L) * KmvP} div greatest(kth_hash, 1)"))
            .as("est_ndv"))
        .withColumn("err_milli",
          expr("(1000 * (est_ndv - exact_ndv)) div greatest(exact_ndv, 1)"))
    }
    KmvColumns.map { case (t, c) => leg(t, c) }
      .reduce(_.unionByName(_)).orderBy($"col_id")
  }

  /** Audited columns: the three ndv regimes plus the skewed-multiplicity
    * contrast row (see the q200 scaladoc). */
  private val KmvColumns = Seq(
    "customer" -> "c_nationkey", "documents" -> "n_chars",
    "events" -> "user_id", "lineitem" -> "l_orderkey",
    "lineitem" -> "l_partkey", "orders" -> "o_custkey",
    "part" -> "p_size")

  val q200Oracle: String = {
    def leg(table: String, column: String): String = {
      val h = kmvHashSql(column)
      s"""SELECT col_id, exact_ndv, sketch_rows, kth_hash, est_ndv,
         |  CAST((1000 * (est_ndv - exact_ndv))
         |    // GREATEST(exact_ndv, 1) AS BIGINT) AS err_milli
         |FROM (
         |  SELECT col_id, exact_ndv, sketch_rows, kth_hash,
         |    CASE WHEN sketch_rows < $KmvK THEN sketch_rows
         |      ELSE CAST(${(KmvK - 1L) * KmvP}
         |        // GREATEST(kth_hash, 1) AS BIGINT) END AS est_ndv
         |  FROM (
         |    SELECT '$table.$column' AS col_id,
         |      (SELECT CAST(COUNT(DISTINCT $column) AS BIGINT)
         |       FROM $table) AS exact_ndv,
         |      (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |        (SELECT DISTINCT $h AS h FROM $table
         |         WHERE $column IS NOT NULL ORDER BY h LIMIT $KmvK))
         |        AS sketch_rows,
         |      (SELECT CAST(COALESCE(MAX(h), 0) AS BIGINT) FROM
         |        (SELECT DISTINCT $h AS h FROM $table
         |         WHERE $column IS NOT NULL ORDER BY h LIMIT $KmvK))
         |        AS kth_hash))""".stripMargin
    }
    KmvColumns.map { case (t, c) => leg(t, c) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_id")
  }

  // ---------------------------------------------------------------- q201
  /** Join-ORDER enumeration audit — the statistics family's capstone:
    * q197–q200 built and graded the inputs (histograms, selectivities,
    * join cardinalities, ndv sketches); here they drive the decision
    * they exist FOR. Over the 4-table FK chain nation–customer–orders–
    * lineitem, the System-R enumeration considers every left-deep order
    * whose prefixes stay connected (8 of them for a 4-chain, collapsing
    * to 4 COST-DISTINCT profiles because the first two tables commute);
    * each profile's cost is the classic sum of intermediate result
    * sizes, estimated by cascading the q199 containment rule step by
    * step in the profile's own join sequence (integer div at each step,
    * exactly as a cascading estimator propagates), and graded against
    * the TRUE cost — the same sum over exact intermediate join counts.
    * The audit's verdict columns: est_rank vs exact_rank per profile
    * (the cost model must pick the true best order) and the spread
    * between best and worst (the quantified value of join reordering —
    * ~7× on this chain: dimension-first vs fact-first).
    *
    * Scale shape: the stats leg is q199's (per-table count+ndv partial
    * aggregates — catalog lookups in production). The exact legs price
    * the audit's truth: 5 distinct connected sub-chains ({N,C}, {N,C,O},
    * {C,O}, {C,O,L}, {O,L}), each ONE count-aggregated join, dimension
    * sides broadcast, the two lineitem probes being the genuine
    * fact-sized scans (q194's honesty note). Enumeration, cascade
    * arithmetic, and ranking all run on the broadcast 1-row stats —
    * pure int64 (at SF1000 the e·n products want DECIMAL headroom, as
    * q199 documents — machine-checked by LayoutSpec's "int64 headroom"
    * spec over these profile expressions). The ranking window orders 4
    * rows. */
  /** Per-profile (name, est-cost expr, exact-cost expr) — the SAME
    * expression text runs on Spark (div) and DuckDB (//), over the wide
    * stats row (n_*, d_*) and exact sub-chain counts (x_*). */
  private[graft] def q201Profiles(div: String): Seq[(String, String, String)] = {
    val dNC = "greatest(d_nc_n, d_nc_c)"
    val dCO = "greatest(d_co_c, d_co_o)"
    val dOL = "greatest(d_ol_o, d_ol_l)"
    def casc(e2: String, n3: String, d3: String) =
      s"($e2) + ($e2) * $n3 $div $d3"
    Seq(
      // N⋈C first (dimension-first: the true optimum on this chain)
      ("N.C.O.L", casc(s"n_n * n_c $div $dNC", "n_o", dCO), "x_nc + x_nco"),
      // C⋈O first, dimension N next
      ("C.O.N.L", casc(s"n_c * n_o $div $dCO", "n_n", dNC), "x_co + x_nco"),
      // C⋈O first, fact L next
      ("C.O.L.N", casc(s"n_c * n_o $div $dCO", "n_l", dOL), "x_co + x_col"),
      // fact⋈fact first (the order reordering exists to avoid)
      ("O.L.C.N", casc(s"n_o * n_l $div $dOL", "n_c", dCO), "x_ol + x_col"))
  }

  def q201JoinOrderAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def t(n: String): DataFrame = Tables(s, dir, n)
    // catalog stats: one wide broadcast row (q199's parallel branches)
    val st = t("nation")
      .agg(count(lit(1)).as("n_n"), countDistinct($"n_nationkey").as("d_nc_n"))
      .crossJoin(t("customer").agg(count(lit(1)).as("n_c"),
        countDistinct($"c_nationkey").as("d_nc_c"),
        countDistinct($"c_custkey").as("d_co_c")))
      .crossJoin(t("orders").agg(count(lit(1)).as("n_o"),
        countDistinct($"o_custkey").as("d_co_o"),
        countDistinct($"o_orderkey").as("d_ol_o")))
      .crossJoin(t("lineitem").agg(count(lit(1)).as("n_l"),
        countDistinct($"l_orderkey").as("d_ol_l")))
    // exact intermediate sizes: the 5 connected sub-chains
    val wide = st.crossJoin(JoinAudit.exactChainCounts(s, dir, t("orders")))
    JoinAudit.rankedOrders(wide, q201Profiles("div"))
  }

  val q201Oracle: String = JoinAudit.oracle(Seq(
    s"""st AS (
       |  SELECT
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS n_n,
       |    (SELECT CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) FROM nation)
       |      AS d_nc_n,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_c,
       |    (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) FROM customer)
       |      AS d_nc_c,
       |    (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer)
       |      AS d_co_c,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_o,
       |    (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
       |      AS d_co_o,
       |    (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders)
       |      AS d_ol_o,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_l,
       |    (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
       |      AS d_ol_l)""".stripMargin,
    JoinAudit.exChainCte("orders")), q201Profiles("//"))

  // ---------------------------------------------------------------- q202
  /** Zone-map pruning audit — what the q98 layout argument and the
    * q197 statistics exist to BUY: scan cost. A 100 TB table is read
    * through file-level min/max statistics ("zone maps" — parquet
    * footers, Iceberg/Delta file stats), and the fraction of files a
    * predicate can SKIP is determined entirely by how the writer laid
    * rows into files. This audit builds the same 64-file zone maps
    * under three writer layouts — NATURAL (insertion order ≈ orderkey
    * ranges: every file spans the whole price/date domain), SORTED by
    * price (price zones are tight, date zones shredded), and Z-ORDER on
    * (price, date) (the q98 Morton tiling: both dimensions bounded) —
    * and grades 10 range predicates (5 on price, 5 on date) on each:
    * `files_read` (zone overlaps the predicate — what the reader MUST
    * open) vs `files_match` (files that truly contain a matching row),
    * with the false-positive gap and the skip rate. The expected shape
    * IS the audit's finding: sorted-by-price skips ~4/5 of files on
    * price predicates and nearly nothing on date predicates; z-order
    * skips materially on BOTH — the quantified case for multi-dimension
    * clustering (q98's bbox argument, priced in files).
    *
    * Determinism: file ids are pure integer/double arithmetic over the
    * broadcast stats row (value-range buckets and the q98 Morton
    * interleave — no global windows, no ntile ties); predicate bounds
    * are the q197 threshold expressions; the row-match and zone-overlap
    * conditions share the same half-open semantics (last bucket
    * closed), so read ⊇ match by construction.
    *
    * Scale shape: ONE row-priced pass per layout for the zone maps
    * (map-side partial agg to 64 groups) — in production these are free
    * parquet-footer reads, recomputed here so DuckDB can hash-match —
    * plus ONE broadcast nested-loop pass joining rows to the 10
    * predicate rows for the exact file-match truth (each row matches
    * ≤ 2 predicates). Overlap testing and the final counts run on
    * 64·10·3 metadata rows. */
  private val ZmFiles = 64
  /** Shared expression fragments over the stats row; `div` = "div"
    * (Spark) / "//" (DuckDB). The epoch-day column `d` is produced
    * upstream per engine (datediff / date_diff — the one dialect split). */
  private def zmExprs(div: String): Map[String, String] = Map(
    "f_nat" -> (s"least(cast(floor(cast(ok as double) * $ZmFiles.0" +
      s" / (mx_ok + 1.0)) as bigint), ${ZmFiles - 1})"),
    "f_sort" -> (s"least(cast(floor((p - mn_p) * $ZmFiles.0" +
      s" / (mx_p - mn_p)) as bigint), ${ZmFiles - 1})"),
    "zx" -> ("least(cast(floor((p - mn_p) * 1024.0 / (mx_p - mn_p))" +
      " as bigint), 1023)"),
    "zy" -> ("least(cast(floor(cast(d - mn_d as double) * 1024.0" +
      " / cast(mx_d - mn_d as double)) as bigint), 1023)"),
    "f_z" -> s"(${mortonSql("zx", "zy")}) $div 16384")
  /** The 10 predicate rows' (k, col, lo, hi, closed) expressions over
    * the stats row: 5 fifths of the price span, 5 of the date span;
    * the last bucket of each is closed. */
  private def zmPreds: Seq[(Int, String, String, String, Int)] =
    (1 to 5).map { k =>
      (k, "p", s"mn_p + ${k - 1} * (mx_p - mn_p) / 5.0",
        s"mn_p + $k * (mx_p - mn_p) / 5.0", if (k == 5) 1 else 0)
    } ++ (1 to 5).map { k =>
      (k + 5, "d", s"mn_d + ${k - 1} * (mx_d - mn_d) / 5.0",
        s"mn_d + $k * (mx_d - mn_d) / 5.0", if (k == 5) 1 else 0)
    }
  /** Row-match and zone-overlap share the half-open-unless-closed
    * semantics: value ∈ [lo, hi) — or [lo, hi] when closed. */
  private def zmMatchCond: String =
    Seq("p", "d").map { c =>
      s"(pred_col = '$c' AND $c >= lo AND" +
        s" ($c < hi OR (closed = 1 AND $c <= hi)))"
    }.mkString(" OR ")
  private def zmOverlapCond: String =
    Seq("p", "d").map { c =>
      s"(pred_col = '$c' AND zmax_$c >= lo AND" +
        s" (zmin_$c < hi OR (closed = 1 AND zmin_$c <= hi)))"
    }.mkString(" OR ")

  def q202ZoneMapAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = zmExprs("div")
    val li = Tables(s, dir, "lineitem").selectExpr(
      "l_extendedprice as p",
      "datediff(l_shipdate, date'1970-01-01') as d",
      "l_orderkey as ok")
    val st = li.agg(min($"p").as("mn_p"), max($"p").as("mx_p"),
      min($"d").as("mn_d"), max($"d").as("mx_d"), max($"ok").as("mx_ok"))
      .localCheckpoint(true)
    // r20 optimization (guide §2.4): the keyed rows feed both the
    // exact-match pass and the zone-map aggregation — materialized once
    // per run (localCheckpoint of 5 narrow columns in the timed body,
    // never across runs) so the Morton interleave is computed once
    val rows = li.crossJoin(broadcast(st))
      .selectExpr("p", "d",
        s"${e("f_nat")} as f_nat", s"${e("f_sort")} as f_sort",
        s"${e("zx")} as zx", s"${e("zy")} as zy")
      .selectExpr("p", "d", "f_nat", "f_sort", s"${e("f_z")} as f_z")
      .localCheckpoint(true)
    val preds = st.selectExpr(s"stack(${zmPreds.size}, " +
      zmPreds.map { case (k, c, lo, hi, cl) =>
        s"$k, '$c', cast(($lo) as double), cast(($hi) as double), $cl"
      }.mkString(", ") + ") as (k, pred_col, lo, hi, closed)")
      .localCheckpoint(true)
    // exact truth: ONE row-priced pass — each row matches ≤ 2 of the 10
    // broadcast predicate rows; files_match = distinct files per layout
    val matched = rows.join(broadcast(preds), expr(zmMatchCond))
      .groupBy($"k").agg(
        countDistinct($"f_nat").as("m_natural"),
        countDistinct($"f_sort").as("m_sorted"),
        countDistinct($"f_z").as("m_zorder"))
      .selectExpr("k", "stack(3, 'natural', m_natural, " +
        "'sorted', m_sorted, 'zorder', m_zorder) as (layout, files_match)")
    // zone maps: 64 (min, max) rows per layout — parquet footers in
    // production, recomputed for the oracle. r20: ONE pass computes all
    // three layouts' zones — stack() unpivots (f_nat, f_sort, f_z) to
    // (layout, f) map-side, one partial-aggregated groupBy with ≤ 192
    // surviving groups replaces three full aggregation passes; the
    // per-layout (min, max) rows are identical (same rows reach each
    // (layout, file) group)
    val allZones = rows
      .selectExpr("p", "d", "stack(3, 'natural', f_nat, 'sorted', f_sort, " +
        "'zorder', f_z) as (layout, f)")
      .groupBy($"layout", $"f")
      .agg(min($"p").as("zmin_p"), max($"p").as("zmax_p"),
        min($"d").as("zmin_d"), max($"d").as("zmax_d"))
    val read = allZones.join(broadcast(preds), expr(zmOverlapCond))
      .groupBy($"layout", $"k").agg(count(lit(1)).as("files_read"))
    read.join(matched, Seq("layout", "k"), "left")
      .join(broadcast(preds.select($"k", $"pred_col")), Seq("k"))
      .select($"layout", $"k".cast("long").as("pred_id"), $"pred_col",
        $"files_read", coalesce($"files_match", lit(0L)).as("files_match"))
      .withColumn("false_pos", expr("files_read - files_match"))
      .withColumn("skip_milli",
        expr(s"(1000 * ($ZmFiles - files_read)) div $ZmFiles"))
      .orderBy($"layout", $"pred_id")
  }

  val q202Oracle: String = {
    val e = zmExprs("//")
    def zoneLeg(f: String, layout: String): String =
      s"""  SELECT '$layout' AS layout, $f AS f,
         |    MIN(p) AS zmin_p, MAX(p) AS zmax_p,
         |    MIN(d) AS zmin_d, MAX(d) AS zmax_d
         |  FROM rows GROUP BY 1, 2""".stripMargin
    s"""WITH li AS (
       |  SELECT l_extendedprice AS p,
       |    date_diff('day', DATE '1970-01-01', l_shipdate) AS d,
       |    l_orderkey AS ok
       |  FROM lineitem),
       |st AS (
       |  SELECT MIN(p) AS mn_p, MAX(p) AS mx_p, MIN(d) AS mn_d,
       |    MAX(d) AS mx_d, MAX(ok) AS mx_ok
       |  FROM li),
       |keyed AS (
       |  SELECT p, d, ${e("f_nat")} AS f_nat, ${e("f_sort")} AS f_sort,
       |    ${e("zx")} AS zx, ${e("zy")} AS zy
       |  FROM li, st),
       |rows AS (
       |  SELECT p, d, f_nat, f_sort, ${e("f_z")} AS f_z FROM keyed),
       |preds AS (
       |${zmPreds.map { case (k, c, lo, hi, cl) =>
          s"""  SELECT $k AS k, '$c' AS pred_col,
             |    CAST(($lo) AS DOUBLE) AS lo, CAST(($hi) AS DOUBLE) AS hi,
             |    $cl AS closed FROM st""".stripMargin
        }.mkString("\nUNION ALL\n")}),
       |matched AS (
       |  SELECT k,
       |    COUNT(DISTINCT f_nat) AS m_natural,
       |    COUNT(DISTINCT f_sort) AS m_sorted,
       |    COUNT(DISTINCT f_z) AS m_zorder
       |  FROM rows JOIN preds ON ($zmMatchCond)
       |  GROUP BY k),
       |fm AS (
       |  SELECT k, 'natural' AS layout, m_natural AS files_match FROM matched
       |  UNION ALL
       |  SELECT k, 'sorted', m_sorted FROM matched
       |  UNION ALL
       |  SELECT k, 'zorder', m_zorder FROM matched),
       |zones AS (
       |${Seq(zoneLeg("f_nat", "natural"), zoneLeg("f_sort", "sorted"),
          zoneLeg("f_z", "zorder")).mkString("\nUNION ALL\n")}),
       |fr AS (
       |  SELECT layout, k, CAST(COUNT(*) AS BIGINT) AS files_read
       |  FROM zones JOIN preds ON ($zmOverlapCond)
       |  GROUP BY 1, 2)
       |SELECT fr.layout, CAST(fr.k AS BIGINT) AS pred_id, p.pred_col,
       |  fr.files_read,
       |  CAST(COALESCE(fm.files_match, 0) AS BIGINT) AS files_match,
       |  CAST(fr.files_read - COALESCE(fm.files_match, 0) AS BIGINT)
       |    AS false_pos,
       |  CAST((1000 * ($ZmFiles - fr.files_read)) // $ZmFiles AS BIGINT)
       |    AS skip_milli
       |FROM fr
       |LEFT JOIN fm ON fr.layout = fm.layout AND fr.k = fm.k
       |JOIN preds p ON fr.k = p.k
       |ORDER BY fr.layout, pred_id""".stripMargin
  }

  // ---------------------------------------------------------------- q203
  /** MCV (most-common-values) estimation audit — the answer to q199's
    * open finding. q199 measured the plain containment rule
    * underestimating the skewed `n_chars` self-join by ~21% (Σ n(v)²
    * exceeds N²/D by the second frequency moment, which ndv alone
    * cannot see). The classic catalog fix — Postgres's pg_stats, every
    * serious optimizer since System R's successors — keeps the top-k
    * FREQUENT values exactly (the MCV list) and applies the uniformity
    * assumption only to the remainder. This audit grades that hybrid at
    * k ∈ {0, 8, 32, 128}: est(k) = Σ_{v ∈ top-k} n(v)² + n_rest² div
    * ndv_rest, against the exact Σ_v n(v)² — k = 0 reproduces q199's
    * underestimate verbatim; the error collapses toward zero as the MCV
    * list absorbs the head of the frequency distribution. The output is
    * the sizing curve a catalog designer actually reads: how many MCV
    * slots buy how much estimation error.
    *
    * Determinism: the MCV ranking breaks frequency ties by value
    * (ORDER BY n DESC, v), identical in both engines; everything after
    * the one value-domain aggregation is pure int64.
    *
    * Scale shape: ONE corpus pass partial-aggregates to the value-domain
    * count table (n_chars is a bounded attribute — its domain stays
    * value-sized at any corpus scale); the ranking window and the 4
    * conditional-sum legs ride that metadata table (the q192/q196
    * metadata-window discipline); no join is ever materialized — the
    * exact self-join count is the Σ n(v)² identity from q199. */
  private val McvKs = Seq(0, 8, 32, 128)
  def q203McvEstimation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables(s, dir, "documents")
      .groupBy($"n_chars".as("v")).agg(count(lit(1)).as("n"))
    val ranked = counts.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy($"n".desc, $"v")))
    val aggs = sum($"n" * $"n").as("exact_rows") +:
      McvKs.flatMap { k =>
        Seq(coalesce(sum(when($"r" <= k, $"n" * $"n")), lit(0L))
          .as(s"mcv_$k"),
          coalesce(sum(when($"r" > k, $"n")), lit(0L)).as(s"nrest_$k"),
          count(when($"r" > k, 1)).as(s"drest_$k"))
      }
    val wide = ranked.agg(aggs.head, aggs.tail: _*)
    wide.selectExpr(s"stack(${McvKs.size}, " +
      McvKs.map { k =>
        s"$k, cast(mcv_$k + nrest_$k * nrest_$k div greatest(drest_$k, 1)" +
          s" as bigint), exact_rows"
      }.mkString(", ") + ") as (mcv_k, est_rows, exact_rows)")
      .select($"mcv_k".cast("long"), $"est_rows", $"exact_rows")
      .withColumn("err_milli",
        expr("(1000 * (est_rows - exact_rows)) div greatest(exact_rows, 1)"))
      .orderBy($"mcv_k")
  }

  val q203Oracle: String = {
    val legs = McvKs.map { k =>
      s"""  SELECT $k AS mcv_k,
         |    CAST(mcv_$k + nrest_$k * nrest_$k
         |      // GREATEST(drest_$k, 1) AS BIGINT) AS est_rows,
         |    exact_rows
         |  FROM wide""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH counts AS (
       |  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1),
       |ranked AS (
       |  SELECT v, n, ROW_NUMBER() OVER (ORDER BY n DESC, v) AS r
       |  FROM counts),
       |wide AS (
       |  SELECT CAST(SUM(n * n) AS BIGINT) AS exact_rows,
       |${McvKs.map { k =>
          s"""    CAST(COALESCE(SUM(CASE WHEN r <= $k THEN n * n END), 0)
             |      AS BIGINT) AS mcv_$k,
             |    CAST(COALESCE(SUM(CASE WHEN r > $k THEN n END), 0)
             |      AS BIGINT) AS nrest_$k,
             |    CAST(COUNT(CASE WHEN r > $k THEN 1 END) AS BIGINT)
             |      AS drest_$k""".stripMargin
        }.mkString(",\n")}
       |  FROM ranked),
       |legs AS (
       |$legs
       |)
       |SELECT CAST(mcv_k AS BIGINT) AS mcv_k, est_rows, exact_rows,
       |  CAST((1000 * (est_rows - exact_rows))
       |    // GREATEST(exact_rows, 1) AS BIGINT) AS err_milli
       |FROM legs ORDER BY mcv_k""".stripMargin
  }

  // ---------------------------------------------------------------- q204
  /** Sample-vs-sketch ndv estimation audit — the quantitative case behind
    * q200's design choice. q200 asserts that catalogs sketch HASHES
    * rather than scan row samples for distinct counts; this audit prices
    * the alternative: a deterministic 1-in-64 Bernoulli ROW sample per
    * column, graded through the three classic sample-based estimators —
    * naive scale-up (64·d_samp), the unsmoothed first-order jackknife
    * (Haas–Naughton–Seshadri–Stokes 1995: d·n/(n − (1−q)·f1) with
    * q = 1/64), and bias-corrected Chao1 (d + f1(f1−1)/(2(f2+1)),
    * Chao 1984) — against the exact ndv, per column, with signed milli
    * errors. The expected shape IS the finding (Charikar et al. 2000
    * prove no sample-based estimator can win in general): scale-up is
    * catastrophic on duplicated columns (×64 on c_nationkey) and exact
    * only on unique-ish ones; the jackknife and Chao1 repair the head
    * but still miss by hundreds of per-mille exactly where multiplicity
    * hides values from the sample (l_orderkey at ~4 rows/value,
    * o_custkey at ~10) — while q200's KMV sketch, which sees every ROW
    * but keeps only distinct-hash minima, lands within ±6‰ on the same
    * columns at the same cost class. Row-sample ndv is the one statistic
    * a catalog should never sample for.
    *
    * Determinism: sample membership is `kmvHash(rowkey) % 64 == 0` over
    * each table's natural row key — the shared affine bijection
    * ([[kmvHashSql]]), valid verbatim in both engines; every estimator
    * is pure int64 (at SF1000 the d·n·64 jackknife numerator wants
    * DECIMAL headroom, the q199 caveat — machine-checked by LayoutSpec's
    * "int64 headroom" spec over [[q204Ests]]). Fixture honesty note:
    * lineitem's composite key carries the generator's known PK
    * violation (FIXTURES.md — ~23% of rows duplicate an (orderkey,
    * linenumber) pair), so those rows sample in lockstep; a
    * deterministic perturbation of Bernoulli shared by both engines
    * and the spec's local replay, immaterial to the audit's finding.
    *
    * Scale shape (the q199 architecture): one column-pruned scan per
    * column with the partial agg inside the scan task — the per-value
    * (count, sampled-count) table is the ONLY shuffle, value-domain-
    * sized; the six sides union into one tagged frame and one groupBy
    * produces every output row. The sampled-value count table is
    * additive across batches (the S31 shape filtered to the sample), so
    * the streaming maintenance story is already covered. */
  private val q204Sides: Seq[(String, String, String, String)] = Seq(
    // (col_id, table, value column, row-key expression)
    ("customer.c_nationkey", "customer", "c_nationkey", "c_custkey"),
    ("documents.n_chars", "documents", "n_chars", "doc_id"),
    ("events.user_id", "events", "user_id", "event_id"),
    // l_linenumber is 1..7, so orderkey*10+linenumber is a unique row key
    ("lineitem.l_orderkey", "lineitem", "l_orderkey",
      "l_orderkey * 10 + l_linenumber"),
    ("orders.o_custkey", "orders", "o_custkey", "o_orderkey"),
    ("part.p_size", "part", "p_size", "p_partkey"))

  /** The shared estimator/error SQL over the wide per-column stats row;
    * `div` = "div" (Spark) / "//" (DuckDB). */
  private[graft] def q204Ests(div: String): Seq[(String, String)] = {
    val ests = Seq(
      "est_scale" -> "64 * d_samp",
      // n − (1−q)·f1 with q = 1/64, scaled by 64 to stay integral
      "est_ujack" -> (s"(d_samp * sample_rows * 64) $div " +
        "greatest(64 * sample_rows - 63 * f1, 1)"),
      "est_chao" -> s"d_samp + (f1 * (f1 - 1)) $div (2 * (f2 + 1))")
    ests ++ ests.map { case (n, e) =>
      s"err_${n.stripPrefix("est_")}_milli" ->
        s"(1000 * (($e) - exact_ndv)) $div greatest(exact_ndv, 1)"
    }
  }

  def q204SampleNdv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-value (rows, sampled rows) tables, partial-aggregated in the
    // scan tasks, unioned into one tagged value-domain frame
    val counts = q204Sides.map { case (cid, tbl, vc, rk) =>
      Tables(s, dir, tbl)
        .groupBy(col(vc).as("v"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(expr(s"case when (${kmvHashSql(rk)}) % 64 = 0 " +
            "then 1 else 0 end")), lit(0L)).as("ns"))
        .select(lit(cid).as("col_id"), $"v".cast("bigint").as("v"),
          $"n", $"ns")
    }.reduce(_.unionByName(_))
    // one groupBy to the 6 wide stats rows; null values are excluded
    // from ndv and from the sample stats alike (countDistinct semantics)
    val wide = counts.groupBy($"col_id").agg(
      count(when($"v".isNotNull, 1)).as("exact_ndv"),
      coalesce(sum(when($"v".isNotNull, $"ns")), lit(0L)).as("sample_rows"),
      count(when($"v".isNotNull && $"ns" > 0, 1)).as("d_samp"),
      count(when($"v".isNotNull && $"ns" === 1, 1)).as("f1"),
      count(when($"v".isNotNull && $"ns" === 2, 1)).as("f2"))
    wide.selectExpr(Seq("col_id", "exact_ndv", "sample_rows", "d_samp",
      "f1", "f2") ++
      q204Ests("div").map { case (n, e) => s"cast(($e) as bigint) as $n" }: _*)
      .orderBy($"col_id")
  }

  val q204Oracle: String = {
    val legs = q204Sides.map { case (cid, tbl, vc, rk) =>
      s"""  SELECT '$cid' AS col_id, CAST($vc AS BIGINT) AS v,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(CASE WHEN (${kmvHashSql(rk)}) % 64 = 0
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS ns
         |  FROM $tbl GROUP BY 1, 2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH counts AS (
       |$legs),
       |wide AS (
       |  SELECT col_id,
       |    CAST(COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT)
       |      AS exact_ndv,
       |    CAST(COALESCE(SUM(CASE WHEN v IS NOT NULL THEN ns END), 0)
       |      AS BIGINT) AS sample_rows,
       |    CAST(COUNT(CASE WHEN v IS NOT NULL AND ns > 0 THEN 1 END)
       |      AS BIGINT) AS d_samp,
       |    CAST(COUNT(CASE WHEN v IS NOT NULL AND ns = 1 THEN 1 END)
       |      AS BIGINT) AS f1,
       |    CAST(COUNT(CASE WHEN v IS NOT NULL AND ns = 2 THEN 1 END)
       |      AS BIGINT) AS f2
       |  FROM counts GROUP BY 1)
       |SELECT col_id, exact_ndv, sample_rows, d_samp, f1, f2,
       |${q204Ests("//").map { case (n, e) =>
          s"  CAST(($e) AS BIGINT) AS $n"
        }.mkString(",\n")}
       |FROM wide ORDER BY col_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q98_zorder_layout" -> q98ZorderLayout _,
    "q192_range_planner" -> ((s, dir) => q192RangePlanner(s, dir)),
    "q197_selectivity" -> q197Selectivity _,
    "q198_correlated_selectivity" -> q198CorrelatedSelectivity _,
    "q199_join_cardinality" -> q199JoinCardinality _,
    "q200_ndv_sketch" -> q200NdvSketch _,
    "q201_join_order" -> q201JoinOrderAudit _,
    "q202_zone_map" -> q202ZoneMapAudit _,
    "q203_mcv_estimation" -> q203McvEstimation _,
    "q204_sample_ndv" -> q204SampleNdv _,
  )

  val oracles: Map[String, String] = Map(
    "q98_zorder_layout" -> q98Oracle,
    "q192_range_planner" -> q192Oracle,
    "q197_selectivity" -> q197Oracle,
    "q198_correlated_selectivity" -> q198Oracle,
    "q199_join_cardinality" -> q199Oracle,
    "q200_ndv_sketch" -> q200Oracle,
    "q201_join_order" -> q201Oracle,
    "q202_zone_map" -> q202Oracle,
    "q203_mcv_estimation" -> q203Oracle,
    "q204_sample_ndv" -> q204Oracle,
  )
}
