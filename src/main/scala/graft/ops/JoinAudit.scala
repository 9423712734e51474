package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.StatsStream

/** The pieces every graded join-order audit is built from (q201 in
  * [[Layout]], q207–q216 in [[Planner]]): price each order from catalog
  * statistics, count the same orders' exact intermediate results, and
  * rank both. Each Spark piece sits next to its DuckDB twin; a cost or
  * estimate expression is one text in both engines, with `div` as the
  * integer division ("div" in Spark, "//" in DuckDB).
  *
  * Only defs: the oracles are vals of [[Layout]] and [[Planner]], built
  * from these while those objects initialize, so a val here that read
  * either object could see its constants still zeroed. */
private[ops] object JoinAudit {

  // ---------------------------------------------------------- catalog

  /** The catalog consult: sketch + row-count artifacts composed IN-PLAN
    * into one wide 1-row frame (sk_<id>, kth_<id> per sketch, n_<tag>
    * per table), so the estimate arithmetic is the oracle's SQL text
    * verbatim. ONE multi-path scan per artifact kind with explicit
    * schemas, tagged by input_file_name, ONE grouped aggregate (each
    * sketch's K smallest distinct hashes as a sorted array, each table's
    * row sum), and one conditional-aggregation pivot — per id,
    * size(slice(sorted distinct h, 1, K)) == count(limit K) and its last
    * element == max(limit K); h is never NULL (NdvStream filters NULL v
    * before hashing); absent groups coalesce to 0. Measured 1.5s → 0.19s
    * per consult against the former 16 crossJoined per-artifact reads. */
  def wideStats(s: SparkSession, art: String,
      skIds: Seq[String], tags: Seq[String]): DataFrame = {
    import s.implicits._
    val sk = s.read.schema("h BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(skIds.map(id => s"$art/d_$id/ndv"): _*)
      .select(concat(lit("d:"), regexp_extract(input_file_name(),
        "/d_([a-z0-9_]+)/ndv/", 1)).as("k"), $"h",
        lit(null).cast("bigint").as("n"))
    val nn = s.read.schema("n BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(tags.map(t => s"$art/n_$t/rows"): _*)
      .select(concat(lit("n:"), regexp_extract(input_file_name(),
        "/n_([a-z0-9_]+)/rows/", 1)).as("k"),
        lit(null).cast("bigint").as("h"), $"n")
    // fail LOUDLY on a key the path regex failed to attribute (ADVICE
    // r20): a future artifact id outside [a-z0-9_] or a path quirk
    // would otherwise group under a bare "d:"/"n:" key and every
    // affected stat would silently coalesce to 0 — wrong estimates with
    // no error. The check rides the same job (a case-when over the ≤
    // |ids|+|tags| group keys feeding the pivot), no extra action.
    val known = (skIds.map("d:" + _) ++ tags.map("n:" + _)).toSet
    val g = sk.unionByName(nn)
      .groupBy($"k").agg(
        slice(sort_array(collect_set($"h")), 1, Layout.KmvK).as("hs"),
        sum($"n").as("nn"))
      .withColumn("k", when($"k".isInCollection(known), $"k")
        .otherwise(raise_error(concat(
          lit("wideStats: unattributed artifact key '"), $"k",
          lit(s"' (expected one of ${known.toSeq.sorted.mkString(", ")})")))))
    val piv: Seq[Column] = skIds.flatMap { id => Seq(
      coalesce(max(when($"k" === s"d:$id", size($"hs").cast("long"))),
        lit(0L)).as(s"sk_$id"),
      coalesce(max(when($"k" === s"d:$id",
        try_element_at($"hs", greatest(size($"hs"), lit(1))))),
        lit(0L)).as(s"kth_$id"))
    } ++ tags.map { t =>
      coalesce(max(when($"k" === s"n:$t", $"nn")), lit(0L)).as(s"n_$t")
    }
    g.agg(piv.head, piv.tail: _*)
  }

  /** DuckDB twin of [[wideStats]], recomputed from the base tables: per
    * sketch column its KMV sketch sk_<id> and the 1-row a_<id>
    * (sk_<id>, kth_<id>); per table its 1-row count nn_<tag>. */
  def catalogCtes(cols: Seq[CatalogColumn],
      tables: Seq[CatalogTable]): Seq[String] =
    cols.map { c =>
      s"""sk_${c.id} AS (
         |  SELECT DISTINCT ${Layout.kmvHashSql(c.column)} AS h FROM ${c.table}
         |  WHERE ${c.column} IS NOT NULL ORDER BY h LIMIT ${Layout.KmvK}),
         |a_${c.id} AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS sk_${c.id},
         |    CAST(COALESCE(MAX(h), 0) AS BIGINT) AS kth_${c.id}
         |  FROM sk_${c.id})""".stripMargin
    } ++ tables.map(t =>
      s"nn_${t.tag} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_${t.tag} " +
        s"FROM ${t.table})")

  /** `st`: the [[catalogCtes]] rows and the 1-row CTEs `more`, as one. */
  def stCte(cols: Seq[CatalogColumn], tables: Seq[CatalogTable],
      more: Seq[String] = Nil): String =
    (cols.map(c => s"a_${c.id}") ++ tables.map(t => s"nn_${t.tag}") ++ more)
      .mkString("st AS (SELECT * FROM ", ", ", ")")

  // -------------------------------------------------------- histogram

  /** A catalog histogram's staged bounds (the build's `hists`
    * descriptor), as the 1-row frame (mn, mx) renamed. */
  def histBounds(s: SparkSession, art: String, column: String,
      mn: String = "hmn", mx: String = "hmx"): DataFrame =
    s.read.parquet(s"$art/hists").where(col("col") === column)
      .selectExpr(s"mn as $mn", s"mx as $mx")

  /** A histogram-priced estimate: per threshold (sfx, t), with t over
    * the histogram's bounds, the mass of the bins below t's bin
    * (full_<sfx>) and of t's bin (strad_<sfx>) — q197's
    * full-bins-plus-half-straddle reads — combined into the 1-row column
    * `out` = `est(div)` (see [[estLe]]). */
  final case class HistEst(ts: Seq[(String, String)], out: String,
      est: String => String)

  /** `e` read off the maintained histogram at `hist` under its staged
    * `bounds` (from [[histBounds]]; its two columns are the (min, max)
    * names the thresholds use). */
  def histEstimate(s: SparkSession, hist: String, bounds: DataFrame,
      e: HistEst): DataFrame = {
    val Array(mn, mx) = bounds.columns
    val aggs = e.ts.flatMap { case (sfx, t) =>
      val tbin = Layout.histBinOf(t, mn, mx)
      Seq(coalesce(sum(when(expr(s"bin < $tbin"), col("n"))), lit(0L))
          .as(s"full_$sfx"),
        coalesce(sum(when(expr(s"bin = $tbin"), col("n"))), lit(0L))
          .as(s"strad_$sfx"))
    }
    StatsStream.mergedHistogram(s, hist)
      .crossJoin(broadcast(bounds))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"${e.est("div")} as ${e.out}")
  }

  /** The estimated rows at or below threshold `sfx`. */
  def estLe(sfx: String, div: String): String =
    s"(full_$sfx + (strad_$sfx $div 2))"

  /** DuckDB twin of [[histEstimate]] over the base table: b<tag> the
    * bounds (hmn, hmx) of `value` (what the build stages), hist<tag> its
    * histogram, e<tag> the 1-row estimate. Thresholds read hmn/hmx. */
  def histEstCtes(tag: String, table: String, value: String,
      e: HistEst): Seq[String] = {
    val sums = e.ts.flatMap { case (sfx, t) =>
      val tbin = Layout.histBinOf(t, "hmn", "hmx")
      Seq(s"COALESCE(SUM(CASE WHEN bin < $tbin THEN n END), 0) AS full_$sfx",
        s"COALESCE(SUM(CASE WHEN bin = $tbin THEN n END), 0) AS strad_$sfx")
    }
    Seq(
      s"""b$tag AS (
         |  SELECT MIN($value) AS hmn, MAX($value) AS hmx FROM $table)""",
      s"""hist$tag AS (
         |  SELECT ${Layout.histBinOf(value, "hmn", "hmx")} AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM $table, b$tag GROUP BY 1)""",
      s"""e$tag AS (
         |  SELECT CAST(${e.est("//")} AS BIGINT) AS ${e.out}
         |  FROM (SELECT ${sums.mkString(",\n    ")}
         |    FROM hist$tag, b$tag))""").map(_.stripMargin)
  }

  // ---------------------------------------------------- exact counts

  /** Exact truth for the N–C–O–L chain: the 5 connected sub-chains
    * (x_nc, x_nco, x_co, x_col, x_ol), one count-agg join each, over a
    * caller-supplied orders frame — the full table for q201/q207,
    * σ(orders) for the filtered audits. */
  def exactChainCounts(s: SparkSession, dir: String,
      ordersDf: DataFrame): DataFrame = {
    import s.implicits._
    def t(n: String): DataFrame = Tables(s, dir, n)
    val nc = t("nation").join(t("customer"), $"n_nationkey" === $"c_nationkey")
    val co = t("customer").join(ordersDf, $"c_custkey" === $"o_custkey")
    val ol = ordersDf.join(t("lineitem"), $"o_orderkey" === $"l_orderkey")
    unionPivotCounts(Seq(
      "x_nc" -> nc,
      "x_nco" -> nc.join(ordersDf, $"c_custkey" === $"o_custkey"),
      "x_co" -> co,
      "x_col" -> co.join(t("lineitem"), $"o_orderkey" === $"l_orderkey"),
      "x_ol" -> ol))
  }

  /** DuckDB twin of [[exactChainCounts]]: the 1-row `ex` over `orders`
    * (the table, or a σ(orders) CTE). */
  def exChainCte(orders: String): String = {
    val nc = "nation\n     JOIN customer ON n_nationkey = c_nationkey"
    val co = s"customer\n     JOIN $orders ON c_custkey = o_custkey"
    countsCte("ex", Seq(
      "x_nc" -> nc,
      "x_nco" -> s"$nc\n     JOIN $orders ON c_custkey = o_custkey",
      "x_co" -> co,
      "x_col" -> s"$co\n     JOIN lineitem ON o_orderkey = l_orderkey",
      "x_ol" -> s"$orders\n     JOIN lineitem ON o_orderkey = l_orderkey"))
  }

  /** Stack named count-aggregates as (k, cnt) rows in one union — a
    * single job whose branches schedule together and share reused
    * exchanges — then pivot by conditional aggregation to one wide
    * 1-row frame. Each branch's count lands verbatim (a count aggregate
    * always emits exactly one row). */
  def unionPivotCounts(branches: Seq[(String, DataFrame)]): DataFrame = {
    val uni = branches.map { case (k, df) =>
      df.agg(count(lit(1)).as("cnt")).select(lit(k).as("k"), col("cnt"))
    }.reduce(_.unionByName(_))
    val piv = branches.map { case (k, _) =>
      coalesce(max(when(col("k") === k, col("cnt"))), lit(0L)).as(k)
    }
    uni.agg(piv.head, piv.tail: _*)
  }

  /** DuckDB twin of [[unionPivotCounts]]: the 1-row CTE `name` of the
    * named join counts, each join a FROM clause. */
  def countsCte(name: String, joins: Seq[(String, String)]): String =
    joins.map { case (k, from) =>
      s"    (SELECT CAST(COUNT(*) AS BIGINT) FROM $from) AS $k"
    }.mkString(s"$name AS (\n  SELECT\n", ",\n", ")")

  // ----------------------------------------------------------- grade

  /** The cost columns' prefixes: est, the `extra` ones, exact. */
  private def costNames(extra: Seq[(String, Seq[String])]): Seq[String] =
    "est" +: extra.map(_._1) :+ "exact"

  /** Per leg its name and its cost expressions, in [[costNames]] order. */
  private def legCosts(legs: Seq[(String, String, String)],
      extra: Seq[(String, Seq[String])]): Seq[(String, Seq[String])] =
    legs.zipWithIndex.map { case ((n, est, exact), i) =>
      n -> (est +: extra.map(_._2(i)) :+ exact)
    }

  /** Stack the legs (name, est-cost expr, exact-cost expr) over the wide
    * 1-row frame as (`name`, est_cost, <extra>_cost…, exact_cost), grade
    * (err_milli unless `errMilli` is off) and rank every cost column by
    * (cost, name); rank_match compares est with exact. `extra` adds cost
    * columns, each with one expression per leg. */
  def rankedOrders(wide: DataFrame, legs: Seq[(String, String, String)],
      name: String = "join_order",
      extra: Seq[(String, Seq[String])] = Nil,
      errMilli: Boolean = true): DataFrame = {
    val costs = costNames(extra)
    val rows = wide.selectExpr(legCosts(legs, extra).map { case (n, es) =>
      (s"'$n'" +: es.map(e => s"cast(($e) as bigint)")).mkString(", ")
    }.mkString(s"stack(${legs.size}, ", ", ",
      costs.map(_ + "_cost").mkString(s") as ($name, ", ", ", ")")))
    val graded = if (!errMilli) rows else rows.withColumn("err_milli",
      expr("(1000 * (est_cost - exact_cost)) div greatest(exact_cost, 1)"))
    costs.foldLeft(graded) { (df, c) =>
      df.withColumn(s"${c}_rank", row_number().over(
        Window.orderBy(col(s"${c}_cost"), col(name))).cast("long"))
    }.withColumn("rank_match",
        when(col("est_rank") === col("exact_rank"), 1L).otherwise(0L))
      .orderBy(col(name))
  }

  /** DuckDB twin of [[rankedOrders]]: the WITH list `ctes` (which must
    * define every relation of `from`), the legs as `costed`, and the
    * graded, ranked rows. */
  def oracle(ctes: Seq[String], legs: Seq[(String, String, String)],
      from: String = "st, ex", name: String = "join_order",
      extra: Seq[(String, Seq[String])] = Nil,
      errMilli: Boolean = true): String = {
    val costs = costNames(extra)
    val costed = legCosts(legs, extra).map { case (n, es) =>
      costs.zip(es).map { case (c, e) =>
        s"CAST(($e) AS BIGINT) AS ${c}_cost"
      }.mkString(s"  SELECT '$n' AS $name,\n    ", ",\n    ", s"\n  FROM $from")
    }.mkString("costed AS (\n", "\nUNION ALL\n", "\n)")
    def rank(c: String) = s"ROW_NUMBER() OVER (ORDER BY ${c}_cost, $name)"
    val cols = (name +: costs.map(_ + "_cost")) ++
      (if (errMilli) Seq("CAST((1000 * (est_cost - exact_cost))\n" +
        "    // GREATEST(exact_cost, 1) AS BIGINT) AS err_milli") else Nil) ++
      costs.map(c => s"CAST(${rank(c)} AS BIGINT) AS ${c}_rank") :+
      s"CAST(CASE WHEN ${rank("est")}\n         = ${rank("exact")}\n" +
        "       THEN 1 ELSE 0 END AS BIGINT) AS rank_match"
    (ctes :+ costed).mkString("WITH ", ",\n", "\n") +
      cols.mkString("SELECT ", ",\n  ", s"\nFROM costed ORDER BY $name")
  }
}
