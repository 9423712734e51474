package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Range}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}
import graft.ops.Planner

/** [[SkewSaltJoin]] — the q211 salt decision executing ITSELF (VERDICT
  * r18 #5): one user join text, and the physical outcome — plain
  * shuffle vs automatic salted rewrite — follows purely from conf +
  * the maintained catalog. The q89 hand-salted pattern becomes an
  * engine behavior: results byte-identical, the per-partition row
  * spread collapse engine-measured with the literal q211 spec
  * machinery (PlannerSpec's spread probe).
  */
class SkewSaltSpec extends AnyFunSuite {

  private def sf = SparkSpec.sf

  /** Max rows in any output partition — the q211 engine leg's probe. */
  private def spread(df: DataFrame): Long =
    df.rdd.mapPartitions(it => Iterator.single(it.size.toLong))
      .collect().max

  private def hasRangeLeaf(p: LogicalPlan): Boolean =
    p.collectFirst { case _: Range => true }.getOrElse(false)

  test("one join text, two physical outcomes from conf+catalog: with " +
      "the flag off the hot-key join shuffles plain; with it on, the " +
      "catalog's over-budget head salts the join automatically — " +
      "results byte-identical, spread collapse engine-measured, " +
      "fixpoint stable; an under-budget conf leaves the same text " +
      "plain again") {
    val s = ExtSession.spark
    import s.implicits._
    val art = Planner.ensureCatalog(s, sf, Planner.PipelineCatalogSpec)
    // the 5-value enum dim a user joins against the hot event_type key
    val dimRows = Seq("click", "view", "purchase", "signup", "error")
    def joined(): DataFrame = {
      val ev = Tables(s, sf, "events").select($"event_type", $"event_id")
      val dim = dimRows.toDF("et")
      ev.join(dim, $"event_type" === $"et")
    }
    val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
    val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    // a real shuffle regime: no broadcast (the 100 TB dim story), AQE
    // off so the measured partitioning is the planned one, and enough
    // tasks that the budget rule flags the enum head hot
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "64")
    s.conf.set(CatalogJoinReorder.CatalogKey, art)
    try {
      // flag off: the plain shuffle — one partition carries a full
      // key's mass (the thing no hash function can fix)
      s.conf.unset(SkewSaltJoin.SaltKey)
      val off = joined()
      assert(!hasRangeLeaf(off.queryExecution.optimizedPlan),
        "without the flag the join must stay plain")
      val offRows = off.collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
      val plainMax = spread(off)
      assert(plainMax >= offRows.size.toLong / 5,
        s"the plain shuffle must load one partition with at least one " +
          s"full key's mass ($plainMax of ${offRows.size})")

      // flag on: the SAME text comes out salted — Range(0, S) dim
      // replication, salt conjunct in the join condition
      s.conf.set(SkewSaltJoin.SaltKey, "true")
      val on = joined()
      val bp = on.queryExecution.optimizedPlan
      assert(hasRangeLeaf(bp),
        s"the salted rewrite must replicate the dim over Range(0, S):\n$bp")
      assert(bp.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.exists(_.references.exists(
              _.name.startsWith(SkewSaltJoin.SaltPrefix))) => j
      }.isDefined, s"the join condition must carry the salt equality:\n$bp")
      assert(on.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) ===
        offRows, "the salted join must not change results")
      val saltedMax = spread(on)
      assert(saltedMax * 2 < plainMax,
        s"the salt must collapse the per-partition spread " +
          s"($saltedMax vs $plainMax)")
      // fixpoint: a second optimizer pass over the salted plan no-ops
      val again = org.apache.spark.sql.graft.OptimizerBridge
        .reoptimize(s, bp)
      assert(again.canonicalized === bp.canonicalized,
        "re-optimizing the salted plan must be a no-op")

      // same text, fewer tasks: the budget rule goes under threshold
      // (max head ≈ n/5 < n/4) and the flag-on plan stays PLAIN — the
      // decision is conf + catalog, not a blanket rewrite
      s.conf.set("spark.sql.shuffle.partitions", "4")
      val under = joined()
      assert(!hasRangeLeaf(under.queryExecution.optimizedPlan),
        "an under-budget key must stay plain even with the flag on")
      assert(under.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) ===
        offRows, "the plain verdict must not change results either")
    } finally {
      s.conf.unset(SkewSaltJoin.SaltKey)
      s.conf.unset(CatalogJoinReorder.CatalogKey)
      s.conf.set("spark.sql.adaptive.enabled", savedAqe)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
    }
  }

  test("composition with the reorder rule: both rules on, one fact-first " +
      "region — the reorder rebuilds dimension-first, the salt rewrite " +
      "then salts the hot-key join on the rebuilt tree, results stay " +
      "identical and the combined plan is a fixpoint") {
    val s = ExtSession.spark
    import s.implicits._
    val art = Planner.ensureCatalog(s, sf, Planner.PipelineCatalogSpec)
    def chain(): DataFrame =
      Tables(s, sf, "events").select($"user_id")
        .join(Tables(s, sf, "documents").select($"doc_id"),
          $"user_id" === $"doc_id")
        .join(Tables(s, sf, "embeddings").select($"vec_id"),
          $"doc_id" === $"vec_id")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // 64 tasks: the 15-user domain's head (~n/15) is over budget (n/64)
    s.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      s.conf.unset(CatalogJoinReorder.CatalogKey)
      s.conf.unset(SkewSaltJoin.SaltKey)
      val offRows = chain().collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
      s.conf.set(CatalogJoinReorder.CatalogKey, art)
      s.conf.set(SkewSaltJoin.SaltKey, "true")
      val on = chain()
      val bp = on.queryExecution.optimizedPlan
      assert(hasRangeLeaf(bp),
        s"the hot user_id key must come out salted:\n$bp")
      // the reorder happened too: the events leaf is no longer the
      // plan's FIRST leaf (the dimension pair opens the rebuilt region)
      val firstLeaf = bp.collectLeaves().head.output.map(_.name).toSet
      assert(!firstLeaf("user_id"),
        s"the fact must not open the combined plan:\n$bp")
      assert(on.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) ===
        offRows, "the combined rewrites must not change results")
      val again = org.apache.spark.sql.graft.OptimizerBridge
        .reoptimize(s, bp)
      assert(again.canonicalized === bp.canonicalized,
        "the combined plan must be a fixpoint")
    } finally {
      s.conf.unset(SkewSaltJoin.SaltKey)
      s.conf.unset(CatalogJoinReorder.CatalogKey)
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
    }
  }

  test("extended join types (r19): left semi, left anti, and left outer " +
      "joins with the HOT side on the kept/stream side salt with " +
      "identical results; the same outer join with the hot side on the " +
      "null-producing side stays untouched (replication would emit " +
      "unmatched rows once per salt)") {
    val s = ExtSession.spark
    import s.implicits._
    val art = Planner.ensureCatalog(s, sf, Planner.PipelineCatalogSpec)
    val dimRows = Seq("click", "view", "purchase") // a PARTIAL dim:
    // unmatched event types exist, so outer/anti semantics are exercised
    def ev() = Tables(s, sf, "events").select($"event_type", $"event_id")
    def dim() = dimRows.toDF("et")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "64")
    s.conf.set(CatalogJoinReorder.CatalogKey, art)
    try {
      for (jt <- Seq("left_semi", "left_anti", "left_outer")) {
        def joined(): DataFrame =
          ev().join(dim(), $"event_type" === $"et", jt)
        s.conf.unset(SkewSaltJoin.SaltKey)
        val offRows = joined().collect().map(_.toSeq).toSeq
          .sortBy(_.mkString("|"))
        s.conf.set(SkewSaltJoin.SaltKey, "true")
        val on = joined()
        assert(hasRangeLeaf(on.queryExecution.optimizedPlan),
          s"$jt with the hot stream side must salt:\n" +
            on.queryExecution.optimizedPlan)
        assert(on.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) ===
          offRows, s"salting a $jt join must not change results " +
            s"(${offRows.size} rows)")
      }
      // the null-producing side hot: a RIGHT outer keeping the dim's
      // unmatched rows must NOT replicate them — untouched
      s.conf.set(SkewSaltJoin.SaltKey, "true")
      val wrongSide = ev().join(dim(), $"event_type" === $"et",
        "right_outer")
      assert(!hasRangeLeaf(wrongSide.queryExecution.optimizedPlan),
        "a right outer join with the hot side on the LEFT must stay " +
          "plain — replication would emit unmatched dim rows per salt")
      // and a full outer never salts, whichever side is hot
      val full = ev().join(dim(), $"event_type" === $"et", "full_outer")
      assert(!hasRangeLeaf(full.queryExecution.optimizedPlan),
        "a full outer join is never saltable")
    } finally {
      s.conf.unset(SkewSaltJoin.SaltKey)
      s.conf.unset(CatalogJoinReorder.CatalogKey)
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
    }
  }

  test("skew-aware reorder (VERDICT r19 #2): a hot dimension key flips " +
      "the enumeration away from the uniform-cheapest order — the salt " +
      "charge makes the order that crosses the hot edge with the " +
      "REDUCED fact win — and the salted execution engine-measures the " +
      "payoff: the Range cross replicates S × |reduced fact| rows, " +
      "half of what the uniform-favorite order would have committed; " +
      "results identical, combined plan a fixpoint") {
    val s = ExtSession.spark
    import s.implicits._
    import graft.ops.{CatalogColumn, CatalogSpec, CatalogTable}
    // the EnumPropertySpec ground-number fixture, materialized: F 8000
    // rows (fa uniform over 1000, fb uniform over 4), A 400 rows with a
    // 351-row hot head on ka = 7, B 2 rows. Uniform pricing opens with
    // (F⋈A) (est 3200 < 4000); the charge at S = 59 flips to (F⋈B)
    // first (240,000 < 475,200), whose hot-edge crossing replicates the
    // HALVED fact.
    val tmp = java.nio.file.Files.createTempDirectory("graft-skewcost")
      .toString
    s.range(1, 8001).selectExpr("id % 1000 + 1 as fa", "id % 4 + 1 as fb")
      .coalesce(1).write.parquet(s"$tmp/ftab.parquet")
    s.range(1, 401)
      .selectExpr("case when id <= 50 then id else 7 end as ka")
      .coalesce(1).write.parquet(s"$tmp/atab.parquet")
    s.range(1, 3).selectExpr("id as kb")
      .coalesce(1).write.parquet(s"$tmp/btab.parquet")
    val spec = CatalogSpec(
      name = "planner_skewcost_test",
      tables = Seq(
        CatalogTable("f", "ftab", "fa", "fa", "fb"),
        CatalogTable("a", "atab", "ka", "ka"),
        CatalogTable("b", "btab", "kb", "kb")),
      sketches = Seq(
        CatalogColumn("f_fa", "f", "a", "ftab", "fa"),
        CatalogColumn("f_fb", "f", "b", "ftab", "fb"),
        CatalogColumn("a_ka", "a", "a", "atab", "ka"),
        CatalogColumn("b_kb", "b", "a", "btab", "kb")),
      mcvs = Seq(
        CatalogColumn("a_ka", "a", "a", "atab", "ka", bounded = true)))
    val art = Planner.ensureCatalog(s, tmp, spec)
    def chain(): DataFrame =
      Tables(s, tmp, "ftab")
        .join(Tables(s, tmp, "atab"), $"fa" === $"ka")
        .join(Tables(s, tmp, "btab"), $"fb" === $"kb")
    def leafNames(p: LogicalPlan): Seq[String] = p match {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        leafNames(j.left) ++ leafNames(j.right)
      case leaf if leaf.children.isEmpty =>
        val names = leaf.output.map(_.name).toSet
        Seq(
          if (names("fa")) "ftab"
          else if (names("ka")) "atab"
          else if (names("kb")) "btab"
          else "?")
      case other => other.children.flatMap(leafNames)
    }
    val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
    val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      s.conf.unset(CatalogJoinReorder.CatalogKey)
      s.conf.unset(SkewSaltJoin.SaltKey)
      val offRows = chain().collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
      s.conf.set(CatalogJoinReorder.CatalogKey, art)
      s.conf.set(SkewSaltJoin.SaltKey, "true")
      val on = chain()
      val bp = on.queryExecution.optimizedPlan
      // the FLIP: the uniform-cheapest order opens (F⋈A); the charged
      // enumeration must open (F⋈B) and cross the hot edge last
      assert(leafNames(bp).filter(_ != "?").take(2) === Seq("ftab", "btab"),
        s"the charged enumeration must open with the cold (F⋈B) pair:\n$bp")
      assert(hasRangeLeaf(bp),
        s"the hot ka crossing must come out salted:\n$bp")
      // engine-measured replication: the salted cross's actual output is
      // S × |F⋈B| = 59 × 4000 — the uniform-favorite order would have
      // replicated bare F, 59 × 8000
      val rows = on.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      assert(rows === offRows,
        "the combined skew-aware rewrites must not change results")
      import org.apache.spark.sql.execution.SparkPlan
      // the replication node: the binary node whose subtree holds the
      // Range scan but whose output carries no salt column yet — the
      // dim × Range(0, S) cross itself (the top salted join also has a
      // Range descendant but outputs the hot side's salt_f)
      def nodes(p: SparkPlan): Seq[SparkPlan] =
        p +: p.children.flatMap(nodes)
      def hasRange(p: SparkPlan): Boolean = nodes(p).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.RangeExec])
      val cross = nodes(on.queryExecution.executedPlan).find { px =>
        px.children.size == 2 && hasRange(px) &&
          !px.output.exists(_.name.startsWith(SkewSaltJoin.SaltPrefix)) &&
          px.metrics.contains("numOutputRows")
      }
      assert(cross.isDefined, "the salted plan must carry the Range cross")
      val replicated = cross.get.metrics("numOutputRows").value
      assert(replicated === 59L * 4000L,
        s"the Range cross must replicate S × |F⋈B| rows ($replicated)")
      assert(replicated * 2 <= 59L * 8000L,
        "the charged order must halve the committed replication vs the " +
          "uniform-favorite (F⋈A)-first crossing")
      val again = org.apache.spark.sql.graft.OptimizerBridge
        .reoptimize(s, bp)
      assert(again.canonicalized === bp.canonicalized,
        "the combined skew-aware plan must be a fixpoint")
    } finally {
      s.conf.unset(SkewSaltJoin.SaltKey)
      s.conf.unset(CatalogJoinReorder.CatalogKey)
      s.conf.set("spark.sql.adaptive.enabled", savedAqe)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      CatalogJoinReorder.invalidate(art)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("replication gate (ADVICE r19): the same hot join stays PLAIN " +
      "when nSalt × dim-rows exceeds spark.graft.join.salt.replCap — " +
      "the rewrite must never trade one skewed task for a cap-busting " +
      "replicated shuffle — and salts again once the cap allows it; " +
      "results identical in both regimes") {
    val s = ExtSession.spark
    import s.implicits._
    val art = Planner.ensureCatalog(s, sf, Planner.PipelineCatalogSpec)
    val dimRows = Seq("click", "view", "purchase", "signup", "error")
    def joined(): DataFrame = {
      val ev = Tables(s, sf, "events").select($"event_type", $"event_id")
      ev.join(dimRows.toDF("et"), $"event_type" === $"et")
    }
    val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "64")
    s.conf.set(CatalogJoinReorder.CatalogKey, art)
    s.conf.set(SkewSaltJoin.SaltKey, "true")
    try {
      s.conf.unset(SkewSaltJoin.ReplCapKey)
      val allowed = joined()
      assert(hasRangeLeaf(allowed.queryExecution.optimizedPlan),
        "under the default cap the 5-row dim salts")
      val rows = allowed.collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
      // a cap below nSalt × 5 blocks the rewrite — same text, plain plan
      s.conf.set(SkewSaltJoin.ReplCapKey, "9")
      val blocked = joined()
      assert(!hasRangeLeaf(blocked.queryExecution.optimizedPlan),
        "a replication over the conf'd cap must leave the join plain")
      assert(blocked.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
        === rows, "the gate must not change results")
    } finally {
      s.conf.unset(SkewSaltJoin.ReplCapKey)
      s.conf.unset(SkewSaltJoin.SaltKey)
      s.conf.unset(CatalogJoinReorder.CatalogKey)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
    }
  }

  test("scope guards: a join with BOTH sides hot is left untouched, and " +
      "an unclassifiable side never trips the rewrite") {
    val s = ExtSession.spark
    import s.implicits._
    val art = Planner.ensureCatalog(s, sf, Planner.PipelineCatalogSpec)
    s.conf.set(CatalogJoinReorder.CatalogKey, art)
    s.conf.set(SkewSaltJoin.SaltKey, "true")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      // self-join on the hot key: both sides classify hot → untouched
      val both = Tables(s, sf, "events").select($"event_type")
        .join(Tables(s, sf, "events")
          .select($"event_type", $"event_id".as("eid2")),
          Seq("event_type"))
      assert(!hasRangeLeaf(both.queryExecution.optimizedPlan),
        "a two-hot-sides join must be left untouched")
      // an aggregate leaf projecting the hot attr name must NOT be
      // priced at base-table stats — the join stays out of scope (the
      // dim probe side is a limit, equally unclassifiable)
      val agg = Tables(s, sf, "events").groupBy($"event_type")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val viaAgg = agg.join(
        Tables(s, sf, "events").select($"event_type").limit(10),
        Seq("event_type"))
      assert(!hasRangeLeaf(viaAgg.queryExecution.optimizedPlan),
        "an aggregate leaf must make the join out-of-scope")
    } finally {
      s.conf.unset(SkewSaltJoin.SaltKey)
      s.conf.unset(CatalogJoinReorder.CatalogKey)
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
    }
  }
}
