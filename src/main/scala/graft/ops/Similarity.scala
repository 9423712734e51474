package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VecFns

/** Approximate-nearest-neighbor search over `embeddings.embedding`
  * (`array<float>`, dim 64): brute-force cosine top-k as the correctness
  * baseline, and a random-hyperplane LSH-bucketed variant as the scale path
  * (candidates come from one hash-partitioned bucket join instead of the
  * full cross product).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane component p(i,d) ∈ [−0.5, 0.5):
    * an LCG over the (plane, dim) index — integer arithmetic is exact in
    * both engines, so the plane is bit-identical in the DuckDB oracle. */
  private def planeVal(i: Column, d: Column): Column =
    ((lit(1103515245L) * (i * 64 + d) + lit(12345L)) % lit(2147483648L)).cast("double") /
      lit(2147483648.0) - lit(0.5)

  private val planeValSql =
    "(CAST((1103515245 * (PL_I * 64 + PL_D) + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"

  /** DuckDB text of the signed projection of v onto pseudo-plane i (a
    * sequential fold over the 64 dims). */
  private[ops] def lshDotSql(v: String, i: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(0, 64), pd -> " +
      s"CAST(($v)[pd + 1] AS DOUBLE) * ${planeValSql.replace("PL_I", i).replace("PL_D", "pd")})), " +
      "(pa, pb) -> pa + pb)"

  /** 8-bit LSH bucket: sign bits of planes 0–7, plane 0 the MSB — a single
    * band of the codegen'd [[graft.functions.PlaneBands]] sketch (band 0's
    * key carries no band-index offset, so it IS the 8-bit bucket). It
    * computes the same doubles as the oracle's higher-order fold
    * ([[lshDotSql]]; PlaneBandsSpec diffs it against a Spark copy of that
    * fold), as a tight generated loop on the scan. */
  private def bucket(v: Column): Column =
    element_at(VecFns.planeBands(v, 8, 8), 1)

  private def bucketSql(v: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), pi -> " +
      s"CASE WHEN ${lshDotSql(v, "pi")} >= 0 THEN 1::BIGINT ELSE 0::BIGINT END)), " +
      "(ba, bb) -> ba * 2 + bb)"

  // ---------------------------------------------------------------- q55
  /** Brute-force cosine top-5 for 10 query vectors: broadcast the queries,
    * map-side cosine, per-query top-k window. At scale: queries are always
    * the broadcast side; the corpus scan stays shuffle-free until the final
    * per-query top-k (which AQE keeps tiny). */
  /** The shared brute-force subplan: exact cosine top-k per query doc
    * (queries broadcast, corpus scan shuffle-free until the per-query
    * window). Columns (q_id, rank, vec_id, cos), no presentation sort —
    * q55 and the q94 retrieval fusion both consume this, so the candidate
    * generation (self-hit filter, prenorm cosine, tie-break) lives once. */
  /** `corpusPred` optionally restricts the CANDIDATE corpus (a snapshot
    * carve — q138's trend gate); the probe set stays the fixed vec_id<10
    * queries either way, so gates across carves compare like for like. */
  private[graft] def bruteTopK(s: SparkSession, dir: String, k: Int,
      corpusPred: Column => Column = _ => lit(true)): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings").withColumn("nrm", VecFns.norm($"embedding"))
      .filter(corpusPred($"vec_id"))
    val q = Tables(s, dir, "embeddings").withColumn("nrm", VecFns.norm($"embedding"))
      .filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", VecFns.cosinePrenorm(
        VecFns.dot($"q_emb", $"embedding"), $"q_nrm", $"nrm"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"q_id", $"rank", $"vec_id", $"cos")
  }

  def q55AnnBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bruteTopK(s, dir, 5).orderBy($"q_id", $"rank")
  }

  val q55Oracle: String = {
    val cos = Sql.cosine("q.embedding", "v.embedding")
    s"""WITH sims AS (
       |  SELECT q.vec_id AS q_id, v.vec_id AS vec_id, $cos AS cos
       |  FROM embeddings q, embeddings v
       |  WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id)
       |SELECT q_id, rank, vec_id, cos FROM (
       |  SELECT q_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM sims)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q56
  /** LSH-bucketed ANN: 8 random hyperplanes → 256 buckets; candidates are
    * only the query's own bucket, then exact cosine top-3 within it. The
    * bucket join is an equi-join on the bucket id — hash-partitionable, no
    * cross product; this is the 100 TB path (q55 is its correctness
    * baseline at test scale). */
  def q56AnnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lshTopK(s, dir, 3)
      .select($"q_id", $"rank", $"vec_id", $"bucket", $"cos")
      .orderBy($"q_id", $"rank")
  }

  /** q56's LSH probe-and-rank at a parameterized depth — the registered
    * bucket-join subplan, reused by q116's hybrid fusion the way
    * [[ivfTopK]] serves q102. Columns (q_id, vec_id, rank ≤ k, bucket,
    * cos); unsorted. */
  private[graft] def lshTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings").withColumn("bucket", bucket($"embedding"))
      .withColumn("nrm", VecFns.norm($"embedding"))
    val q = e.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"bucket", $"nrm".as("q_nrm"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    e.join(broadcast(q), Seq("bucket"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", VecFns.cosinePrenorm(
        VecFns.dot($"q_emb", $"embedding"), $"q_nrm", $"nrm"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"q_id", $"vec_id", $"rank", $"bucket", $"cos")
  }

  /** [[lshTopK]]'s oracle body at depth k — complete WITH…SELECT (columns
    * q_id, vec_id, rank, bucket, cos; no ORDER BY), embeddable as a
    * parenthesized derived table, mirroring [[ivfTopKOracle]]. */
  private[ops] def lshTopKOracle(k: Int): String = {
    val cos = Sql.cosine("q.embedding", "v.embedding")
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |sims AS (
       |  SELECT q.vec_id AS q_id, v.vec_id AS vec_id, q.bucket AS bucket, $cos AS cos
       |  FROM bucketed q JOIN bucketed v ON q.bucket = v.bucket
       |  WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id)
       |SELECT q_id, vec_id, rank, bucket, cos FROM (
       |  SELECT q_id, vec_id, bucket, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM sims)
       |WHERE rank <= $k""".stripMargin
  }

  val q56Oracle: String =
    s"""SELECT q_id, rank, vec_id, bucket, cos
       |FROM (${lshTopKOracle(3).replace("\n", "\n  ")}) l
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q59
  /** IVF-flat ANN: (1) deterministic coarse centroids — per-label, per-dim
    * exact decimal means (k-means would be iteration-order-dependent; the
    * label grouping is the fixed coarse quantizer, the mean is the learned
    * part); (2) every vector assigned to its *nearest* centroid (computed,
    * not assumed — a vector may land outside its own label's cell);
    * (3) queries probe their top-2 cells (nprobe=2) and run exact cosine
    * top-3 inside them.
    *
    * Scale shape: the centroid table is bounded metadata (nlist rows), so
    * it is COLLECTED — same class as the signing upsert's ≤256 bucket
    * prefixes — and assignment is a single codegen'd map-side projection
    * ([[graft.functions.NearestCells]]): zero exchange from scan to cell
    * id. (The previous crossJoin(corpus × centroids) + row_number window
    * shuffled corpus×nlist rows to make a per-row decision — at 100 TB with
    * nlist=1024, a petabyte-class exchange.) The probe side broadcasts the
    * nprobe·|queries| rows into the candidate equi-join on cell, so the
    * corpus never shuffles at all before the final per-query top-k.
    * Candidates ≈ corpus·(nprobe/nlist); q55 (brute force) is the recall
    * baseline at test scale. */
  /** Deterministic IVF coarse-quantizer training shared by q59 and the
    * SemDeDup pass (q77): per-label, per-dim exact decimal means, collected
    * as bounded metadata (nlist rows of 64 doubles — same class as the
    * signing upsert's ≤256 bucket prefixes, not a data collect). */
  private[graft] def ivfCentroidMeta(s: SparkSession,
      dir: String): (Array[Long], Array[Array[Double]]) = {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val cent = Tables(s, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("d", "v")))
      .groupBy($"label", $"d")
      .agg((sum($"v".cast(DecimalType(18, 9))).cast(DoubleType) / count(lit(1))).as("m"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"d", $"m"))).as("dm"))
      .select($"label".cast("long").as("cell"),
        transform($"dm", x => x.getField("m")).as("centroid"))
    val centRows = cent.orderBy($"cell").collect()
    (centRows.map(_.getLong(0)), centRows.map(_.getSeq[Double](1).toArray))
  }

  /** [[ivfCentroidMeta]] cached per (session, dir) — the quantizer is the
    * STANDING trained artifact of the IVF shelf (exactly what the S10
    * stream maintains on disk behind a generation pointer), so its one
    * corpus pass + driver collect is paid once per session, not once per
    * consuming query (r11: previously q59/q77/q92/q102/q104/q114/q124/
    * q128 each re-trained it inline). Plain driver arrays — no RDD
    * blocks, so no liveness probe; evicted with [[evictCentroids]]
    * (bench cold-prep). */
  private val centroidCache =
    SessionCache.values[(Array[Long], Array[Array[Double]])]()

  private[graft] def cachedCentroidMeta(s: SparkSession,
      dir: String): (Array[Long], Array[Array[Double]]) =
    centroidCache.getOrBuild(s, dir)(ivfCentroidMeta(s, dir))

  /** The SQ8 index's trained artifact — per-dim corpus (min, range) — and
    * the PQ index's — 8 subspace codebooks — cached with the same
    * standing-artifact argument as the IVF centroids: all three are what
    * FAISS serializes WITH the index, trained once per corpus snapshot,
    * not once per query. */
  private val sqBoundsCache =
    SessionCache.values[(Array[Double], Array[Double])]()
  private val pqCodebookCache =
    SessionCache.values[Array[Array[Array[Double]]]]()

  private[graft] def cachedSqBounds(s: SparkSession,
      dir: String): (Array[Double], Array[Double]) =
    sqBoundsCache.getOrBuild(s, dir)(trainSqBounds(s, dir))

  private[graft] def cachedPqCodebooks(s: SparkSession,
      dir: String): Array[Array[Array[Double]]] =
    pqCodebookCache.getOrBuild(s, dir)(trainPqCodebooks(s, dir))

  /** Train + stage all three ANN artifacts (the bench `ann_prep` body). */
  private[graft] def stageAnnArtifacts(s: SparkSession, dir: String): Unit = {
    cachedCentroidMeta(s, dir)
    cachedSqBounds(s, dir)
    cachedPqCodebooks(s, dir)
    ()
  }

  private[graft] def evictCentroids(s: SparkSession): Unit =
    Seq(centroidCache, sqBoundsCache, pqCodebookCache, assignedCache)
      .foreach(_.evict(s))

  /** Every vector with its nearest-cell assignment — a single codegen'd
    * map-side projection over the scan ([[graft.functions.NearestCells]]),
    * zero exchange. Columns: vec_id, embedding, cell. */
  private[graft] def ivfAssigned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cells, mats) = cachedCentroidMeta(s, dir)
    Tables(s, dir, "embeddings").select($"vec_id", $"embedding",
      element_at(
        graft.functions.NearestCellsUtil.column($"embedding", cells, mats, 1), 1)
        .as("cell"))
  }

  /** The IVF probe-and-rank subplan generalized over candidate depth and
    * probe width: q59 is (k=3, nprobe=2) plus its presentation sort, and
    * the index-backed retrieval fusion (q102) consumes (k=20, nprobe=2)
    * through the same code path — the serving index and the measured one
    * can never drift apart. Columns (q_id, rank, vec_id, cell, cos), no
    * presentation sort. */
  /** The probe-and-rank core over an ARBITRARY query frame (q_id long,
    * q_emb array<float>) — factored out of [[ivfTopK]] so the batch
    * queries (q59/q102/q104/…) and the S20 online-serving stream rank
    * with the LITERAL same expressions: map-side nprobe cell assignment
    * on the query side (broadcast — queries are always the small side),
    * a cell-keyed join against the assigned corpus, exact cosine re-rank,
    * per-query top-k. The corpus never exchanges: only matching cells'
    * rows meet the broadcast probe rows. */
  private[graft] def ivfProbeRank(queries: DataFrame, assigned: DataFrame,
      cells: Array[Long], mats: Array[Array[Double]], k: Int,
      nprobe: Int, excludeSelf: Boolean = true): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val qprobe = queries.select($"q_id", $"q_emb",
      explode(graft.functions.NearestCellsUtil.column($"q_emb", cells, mats,
        nprobe)).as("cell"))
    val wTop = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    val met = assigned.join(broadcast(qprobe), Seq("cell"))
    // excludeSelf assumes q_id and vec_id share ONE id namespace (corpus
    // members querying the corpus — q59/q92's frame). External query
    // frames (S20 serving) pass false: a serving q_id that happens to
    // collide with a corpus vec_id must NOT lose that corpus vector
    // (ADVICE r10).
    (if (excludeSelf) met.filter($"vec_id" =!= $"q_id") else met)
      .withColumn("cos", VecFns.cosine($"q_emb", $"embedding"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter($"rank" <= k)
      .select($"q_id", $"rank", $"vec_id", $"cell", $"cos")
  }

  private[graft] def ivfTopK(s: SparkSession, dir: String, k: Int,
      nprobe: Int): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val (cells, mats) = cachedCentroidMeta(s, dir)
    val assigned = emb.select($"vec_id", $"embedding",
      element_at(
        graft.functions.NearestCellsUtil.column($"embedding", cells, mats, 1),
        1).as("cell"))
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    ivfProbeRank(queries, assigned, cells, mats, k, nprobe)
  }

  /** The assigned corpus as a session-staged serving asset (vec_id,
    * embedding, cell — [[ivfAssigned]] materialized once): what S20's
    * online probe joins against per micro-batch, so serving never re-runs
    * the assignment projection per batch. The localCheckpoint pins it for
    * the session, the SessionCache liveness/eviction contract applies. */
  private val assignedCache = SessionCache.frames()
  private[graft] def stagedAssigned(s: SparkSession, dir: String): DataFrame =
    assignedCache.getOrBuild(s, dir)(ivfAssigned(s, dir).localCheckpoint(true))

  def q59AnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ivfTopK(s, dir, 3, 2).orderBy($"q_id", $"rank")
  }

  /** Oracle CTE chunk mirroring [[ivfCentroidMeta]] + [[ivfAssigned]]:
    * `cent` (decimal-mean centroids), `scored` (vector × centroid cosines),
    * `assigned` (nearest cell per vector). Shared by q59 and q77. */
  /** Just the trained-centroid CTE (`cent`) — reusable by oracles that
    * assign a DIFFERENT vector set against the standing quantizer
    * (q149's drift carves). */
  private[ops] val ivfCentCte: String =
    """cent AS (
      |  SELECT CAST(label AS BIGINT) AS cell, list(m ORDER BY d) AS centroid FROM (
      |    SELECT label, i AS d,
      |      CAST(SUM(CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m
      |    FROM embeddings CROSS JOIN range(0, 64) r(i)
      |    GROUP BY label, i)
      |  GROUP BY label)""".stripMargin

  /** The cosine the assignment ranks by, for a float-list vector
    * expression `v` against centroid row `c` — [[ivfAssignCte]]'s
    * formula factored for reuse. */
  private[ops] def ivfAssignCos(v: String): String =
    s"(${Sql.dotFD(v, "c.centroid")} / " +
      s"(sqrt(${Sql.dot(v, v)}) * sqrt(${Sql.dotD("c.centroid", "c.centroid")})))"

  private[ops] val ivfAssignCte: String = {
    val ccos = ivfAssignCos("e.embedding")
    s"""$ivfCentCte,
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.cell, $ccos AS ccos
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS arn
       |    FROM scored)
       |  WHERE arn = 1)""".stripMargin
  }

  /** [[ivfTopK]]'s oracle, parameterized the same way (no ORDER BY —
    * embeddable as a derived table; q59 adds its presentation sort). */
  private[ops] def ivfTopKOracle(k: Int, nprobe: Int): String = {
    val cos = Sql.cosine("q.q_emb", "a.embedding")
    s"""WITH $ivfAssignCte,
       |qprobe AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS crn
       |    FROM scored WHERE vec_id < 10)
       |  WHERE crn <= $nprobe),
       |cand AS (
       |  SELECT q.q_id, a.vec_id, a.cell, $cos AS cos
       |  FROM qprobe q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id, cell, cos FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM cand)
       |WHERE rank <= $k""".stripMargin
  }

  val q59Oracle: String = s"${ivfTopKOracle(3, 2)} ORDER BY q_id, rank"

  // ---------------------------------------------------------------- q73
  /** Product-quantization ANN (ADC + exact re-rank) — the memory-bound
    * scale path: 64 dims split into M=8 subspaces of 8; each subspace gets
    * a ≤16-entry codebook (training clusters = 4-plane LSH cells of the
    * subvector — the same one-iteration quantizer idea as q59's
    * label-grouped means, per subspace; centroids are exact decimal means);
    * every corpus vector is encoded to 8 positional code ids by the
    * codegen'd [[graft.functions.PqEncode]] (nearest entry by squared L2,
    * the standard PQ sub-metric) — 32 bits packed vs 256 bytes of floats,
    * a 64× compression that is what lets a 100 TB embedding corpus live in
    * cluster RAM. Queries score candidates with ADC (asymmetric distance):
    * a per-query lookup table of subspace partial dots (10 queries ×
    * 8×≤16 entries — bounded broadcast metadata), summed per vector in
    * fixed m-order, normalized by the reconstruction norm → approximate
    * cosine; the top-64 ADC candidates per query are then re-ranked by
    * EXACT cosine for the final top-3 (the standard ADC + re-rank).
    *
    * Scale shape: training is one partial-aggregated groupBy on
    * (m, bucket, d) — ≤1024 groups; codebooks + query LUTs are collected
    * as bounded metadata (same class as q59's centroids); encode + ADC is
    * a map-side projection + broadcast join over the scan — the corpus
    * NEVER shuffles before the per-query top-64.
    *
    * Determinism discipline (hash-matched oracle despite three layers of
    * float): decimal-exact centroid means; every fold (L2 distance, ADC
    * sum, norms, LUT dots) accumulates left-to-right from a 0.0 seed in
    * both engines; explicit (x−c)·(x−c) products (never pow); argmin/rank
    * ties to the lower code / vec_id. */
  /** PQ training: LSH-cell decimal means per subspace — ≤ 1024-group
    * partial agg + a bounded collect. Consumed via [[cachedPqCodebooks]]. */
  private def trainPqCodebooks(s: SparkSession,
      dir: String): Array[Array[Array[Double]]] = {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val msub = Tables(s, dir, "embeddings")
      .select($"vec_id", explode(sequence(lit(0), lit(7))).as("m"), $"embedding")
      .withColumn("subv", slice($"embedding", $"m" * 8 + 1, lit(8)))
    def subDot(subv: Column, plane: Column): Column =
      aggregate(sequence(lit(0), lit(7)), lit(0.0),
        (acc, d) => acc + element_at(subv, d + 1).cast("double") * planeVal(plane, d))
    val bucketed = msub.withColumn("bucket",
      aggregate(sequence(lit(0), lit(3)), lit(0L),
        (acc, p) => acc * 2 + when(subDot($"subv", $"m" * 4 + p) >= 0, 1L).otherwise(0L)))
    val cb = bucketed
      .select($"m", $"bucket", posexplode($"subv").as(Seq("d", "v")))
      .groupBy($"m", $"bucket", $"d")
      .agg((sum($"v".cast(DecimalType(18, 9))).cast(DoubleType) / count(lit(1))).as("mean"))
      .groupBy($"m", $"bucket")
      .agg(array_sort(collect_list(struct($"d", $"mean"))).as("dm"))
      .select($"m", $"bucket", transform($"dm", x => x.getField("mean")).as("entry"))
    // M × ≤16 entries × 8 doubles — bounded metadata, not a data collect
    val cbRows = cb.orderBy($"m", $"bucket").collect()
    (0 until 8).map { mi =>
      cbRows.filter(_.getInt(0) == mi).map(_.getSeq[Double](2).toArray)
    }.toArray
  }

  def q73AnnPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    // --- the staged PQ artifact (cachedPqCodebooks — trained once) ----
    val codebooks = cachedPqCodebooks(s, dir)
    // per-(m, code) reconstruction norm², dim-ordered left fold
    val norms2: Seq[Seq[Double]] = codebooks.toSeq.map(_.toSeq.map { e =>
      var acc = 0.0; var i = 0
      while (i < e.length) { acc += e(i) * e(i); i += 1 }
      acc
    })
    // --- queries: bounded collect → driver-built ADC lookup tables ----
    val qRows = emb.filter($"vec_id" < 10)
      .select($"vec_id", $"embedding").orderBy($"vec_id").collect()
    val qdf = qRows.toSeq.map { r =>
      val id = r.getLong(0)
      val q = r.getSeq[Float](1)
      var qq = 0.0; var i = 0
      while (i < q.length) { qq += q(i).toDouble * q(i).toDouble; i += 1 }
      val lut: Seq[Seq[Double]] = codebooks.toSeq.zipWithIndex.map { case (entries, mi) =>
        entries.toSeq.map { e =>
          var acc = 0.0; var d = 0
          while (d < e.length) { acc += q(mi * 8 + d).toDouble * e(d); d += 1 }
          acc
        }
      }
      (id, q, math.sqrt(qq), lut)
    }.toDF("q_id", "q_emb", "q_nrm", "lut")
    // --- encode + ADC: map-side over the scan, zero corpus shuffle ----
    val n2 = typedLit(norms2)
    val enc = emb.select($"vec_id", $"embedding",
        graft.functions.PqEncodeUtil.column($"embedding", codebooks).as("codes"))
      .withColumn("code_packed",
        aggregate($"codes", lit(0L), (acc, c) => acc * 16 + c))
      .withColumn("rnorm2", graft.functions.GatherSum.column($"codes", n2))
    val wCand = Window.partitionBy($"q_id").orderBy($"approx_cos".desc, $"vec_id")
    val cand = enc.crossJoin(broadcast(qdf))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adc_dot", graft.functions.GatherSum.column($"codes", $"lut"))
      .withColumn("approx_cos", $"adc_dot" / ($"q_nrm" * sqrt($"rnorm2")))
      .withColumn("crn", row_number().over(wCand))
      .filter($"crn" <= 64)
      .select($"q_id", $"q_emb", $"vec_id", $"code_packed", $"approx_cos")
    // --- exact re-rank of the 64 ADC candidates ------------------------
    val wTop = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    cand.join(emb.select($"vec_id", $"embedding"), "vec_id")
      .withColumn("cos", VecFns.cosine($"q_emb", $"embedding"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter($"rank" <= 3)
      .select($"q_id", $"rank", $"vec_id", $"code_packed", $"approx_cos", $"cos")
      .orderBy($"q_id", $"rank")
  }

  val q73Oracle: String = {
    val plane = planeValSql
    def planeAt(i: String, d: String): String =
      plane.replace("PL_I", i).replace("PL_D", d)
    val subdot = "list_reduce(list_prepend(0.0, list_transform(range(0, 8), sd -> " +
      s"CAST(subv[sd + 1] AS DOUBLE) * ${planeAt("(m * 4 + p)", "sd")})), (sa, sb) -> sa + sb)"
    val cos = Sql.cosine("n.q_emb", "e.embedding")
    s"""WITH msub AS (
       |  SELECT vec_id, m, embedding[m*8+1 : m*8+8] AS subv
       |  FROM embeddings CROSS JOIN range(0, 8) r(m)),
       |bsub AS (
       |  SELECT vec_id, m, subv,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 4), p ->
       |      CASE WHEN $subdot >= 0 THEN 1::BIGINT ELSE 0::BIGINT END)),
       |      (ba, bb) -> ba * 2 + bb) AS bucket
       |  FROM msub),
       |cbd AS (
       |  SELECT m, bucket, sd AS d,
       |    CAST(SUM(CAST(CAST(subv[sd + 1] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mean
       |  FROM bsub CROSS JOIN range(0, 8) r2(sd)
       |  GROUP BY m, bucket, sd),
       |cbl AS (SELECT m, bucket, list(mean ORDER BY d) AS entry FROM cbd GROUP BY m, bucket),
       |cbi AS (
       |  SELECT m, bucket, entry,
       |    CAST(row_number() OVER (PARTITION BY m ORDER BY bucket) - 1 AS BIGINT) AS code,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, 9), ni ->
       |      entry[ni] * entry[ni])), (na, nb) -> na + nb) AS norm2
       |  FROM cbl),
       |vassign AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT b.vec_id, b.m, c.code,
       |      row_number() OVER (PARTITION BY b.vec_id, b.m ORDER BY
       |        list_reduce(list_prepend(0.0, list_transform(range(1, 9), di ->
       |          (CAST(b.subv[di] AS DOUBLE) - c.entry[di]) * (CAST(b.subv[di] AS DOUBLE) - c.entry[di]))),
       |          (da, db) -> da + db) ASC, c.code ASC) AS arn
       |    FROM bsub b JOIN cbi c ON c.m = b.m)
       |  WHERE arn = 1),
       |vcode AS (
       |  SELECT a.vec_id,
       |    list_reduce(list_prepend(0::BIGINT, list(a.code ORDER BY a.m)),
       |      (pa, pb) -> pa * 16 + pb) AS code_packed,
       |    list_reduce(list_prepend(0.0, list(c.norm2 ORDER BY a.m)),
       |      (ra, rb) -> ra + rb) AS rnorm2
       |  FROM vassign a JOIN cbi c ON c.m = a.m AND c.code = a.code
       |  GROUP BY a.vec_id),
       |qn AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb,
       |    sqrt(${Sql.dot("embedding", "embedding")}) AS q_nrm
       |  FROM embeddings WHERE vec_id < 10),
       |lut AS (
       |  SELECT q.q_id, c.m, c.code,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, 9), li ->
       |      CAST(q.q_emb[c.m * 8 + li] AS DOUBLE) * c.entry[li])),
       |      (la, lb) -> la + lb) AS pdot
       |  FROM qn q CROSS JOIN cbi c),
       |adc AS (
       |  SELECT l.q_id, a.vec_id,
       |    list_reduce(list_prepend(0.0, list(l.pdot ORDER BY l.m)),
       |      (aa, ab) -> aa + ab) AS adc_dot
       |  FROM vassign a JOIN lut l ON l.m = a.m AND l.code = a.code
       |  GROUP BY l.q_id, a.vec_id),
       |cand AS (
       |  SELECT q_id, vec_id, code_packed, approx_cos FROM (
       |    SELECT a.q_id, a.vec_id, v.code_packed,
       |      a.adc_dot / (n.q_nrm * sqrt(v.rnorm2)) AS approx_cos,
       |      row_number() OVER (PARTITION BY a.q_id
       |        ORDER BY a.adc_dot / (n.q_nrm * sqrt(v.rnorm2)) DESC, a.vec_id) AS crn
       |    FROM adc a
       |    JOIN vcode v ON v.vec_id = a.vec_id
       |    JOIN qn n ON n.q_id = a.q_id
       |    WHERE a.vec_id <> a.q_id)
       |  WHERE crn <= 64)
       |SELECT q_id, rank, vec_id, code_packed, approx_cos, cos FROM (
       |  SELECT c.q_id, c.vec_id, c.code_packed, c.approx_cos, $cos AS cos,
       |    CAST(row_number() OVER (PARTITION BY c.q_id ORDER BY $cos DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM cand c
       |  JOIN qn n ON n.q_id = c.q_id
       |  JOIN embeddings e ON e.vec_id = c.vec_id)
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q86
  /** Johnson–Lindenstrauss random projection 64 → 16 dims with a
    * deterministic ±1 sign matrix (the Achlioptas database-friendly
    * construction: R(i,j) ∈ {−1,+1}, scaled by 1/√16 = 0.25). Distances
    * are preserved in expectation, the matrix is never materialized — the
    * sign is regenerated from the (out-dim, in-dim) index by the same LCG
    * the hyperplane sketches use, taking bit 30 (NOT the parity bit, whose
    * LCG period is 2). The fold over input dims is left-to-right, so the
    * projected doubles are bit-identical in any engine and at any
    * parallelism; 0.25 scaling is a power of two — exact.
    *
    * Plan shape: map-only — the codegen'd [[graft.functions.JlProject]]
    * generates all 16 output dims in one projection over the scan (an
    * interpreted higher-order `aggregate` fold here would be a
    * CodegenFallback on the hot path); the only exchange is the
    * presentation ORDER BY. At 100 TB this is the preprocessing pass that
    * makes a downstream ANN build 4× cheaper per vector without a shuffle.
    */
  def q86RandomProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"vec_id",
        posexplode(VecFns.jlProject($"embedding", 16, 0.25)).as(Seq("dim", "value")))
      .select($"vec_id", $"dim".cast("long").as("dim"), $"value")
      .orderBy($"vec_id", $"dim")
  }

  val q86Oracle: String =
    """SELECT vec_id, CAST(i AS BIGINT) AS dim,
      |  0.25 * list_reduce(list_prepend(0.0, list_transform(range(0, 64), j ->
      |    CAST(embedding[j + 1] AS DOUBLE) *
      |    (CASE WHEN (1103515245::BIGINT * (i * 64 + j) + 12345) % 2147483648 >= 1073741824
      |          THEN 1.0 ELSE -1.0 END))), (a, b) -> a + b) AS value
      |FROM embeddings, UNNEST(range(0, 16)) AS u(i)
      |ORDER BY vec_id, dim""".stripMargin

  // ---------------------------------------------------------------- q88
  /** ANN recall evaluation: recall@3 of the LSH-bucketed index (q56)
    * against exact brute-force ground truth (q55's top-3), per query — the
    * measurement harness that turns an ANN index's recall contract into a
    * number a pipeline can gate on. Both sides are the registered
    * operators re-run verbatim, so the metric can never drift from what
    * the index actually serves.
    *
    * Plan shape: both inputs end in per-query top-k over broadcast-join
    * candidates (no new wide exchange); the comparison is an equi-join on
    * (q_id, vec_id) over ≤ k·|queries| rows — metadata-sized at any corpus
    * scale. */
  def q88AnnRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val truth = q55AnnBrute(s, dir).filter($"rank" <= 3)
      .select($"q_id", $"vec_id")
    val approx = q56AnnLsh(s, dir)
      .select($"q_id", $"vec_id", lit(1).as("hit"))
    truth.join(approx, Seq("q_id", "vec_id"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("k"),
        sum(when($"hit".isNull, 0L).otherwise(1L)).as("n_hit"))
      .withColumn("recall", $"n_hit".cast("double") / $"k".cast("double"))
      .select($"q_id", $"k", $"n_hit", $"recall")
      .orderBy($"q_id")
  }

  val q88Oracle: String =
    s"""WITH truth AS (
       |  SELECT q_id, vec_id FROM (${q55Oracle.replace("\n", "\n  ")}) t
       |  WHERE rank <= 3),
       |approx AS (
       |  SELECT q_id, vec_id, 1 AS hit FROM (${q56Oracle.replace("\n", "\n  ")}) a)
       |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(SUM(CASE WHEN a.hit IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
       |  CAST(SUM(CASE WHEN a.hit IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a USING (q_id, vec_id)
       |GROUP BY t.q_id
       |ORDER BY t.q_id""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Recall@3 per ANN index FAMILY — q88 widened across the whole index
    * shelf (VERDICT r7 #4): the LSH (q56), IVF (q59), PQ (q73), and SQ8
    * (q120, r10) indexes
    * each re-run verbatim and compared to the same brute-force truth
    * (q55's top-3), so every family's recall contract is one gateable,
    * oracle-checked number. A release gate reads one row per family:
    * mean recall over the query set plus the worst single query — the two
    * numbers an index SLO is written against.
    *
    * Plan shape: each family's input ends in its own per-query top-k (no
    * new wide exchange — identical subplans to the registered queries);
    * the recall joins and the final per-family aggregate run over
    * ≤ k·|queries|·|families| rows — metadata at any corpus scale. */
  def q92AnnRecallFamilies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // truth is k·|queries| rows (30 here) but its subplan is the brute-force
    // cross join — materialize it once instead of re-running the scan for
    // each of the three family comparisons (the Dedup localCheckpoint
    // pattern; values unchanged, bounded metadata size)
    // each family's answer set is k·|queries| rows (metadata) — materialize
    // it BEFORE the union so Catalyst optimizes four small family plans
    // instead of one mega-plan (the union of four window-heavy subplans
    // tripped the plan-string truncation warning and spent ~5s/iteration
    // in plan work alone at sf0.1; rows unchanged, same hash)
    // r21 (guide §2.6 — overlap independent jobs): the truth scan and the
    // four family answer sets are INDEPENDENT eager checkpoints that ran
    // as five serialized jobs; they now materialize concurrently through
    // the shared bounded fan, back-filling idle cores with the next
    // family's tasks while a straggler finishes. Rows per leg unchanged.
    val plans: Seq[DataFrame] =
      q55AnnBrute(s, dir).filter($"rank" <= 3).select($"q_id", $"vec_id") +:
        Seq(q59AnnIvf(s, dir), q56AnnLsh(s, dir), q73AnnPq(s, dir),
          q120AnnSq(s, dir))
          .map(_.select($"q_id", $"vec_id", lit(1).as("hit")))
    val ckpt = new Array[DataFrame](plans.size)
    Fan.out(plans.zipWithIndex.map { case (df, i) =>
      () => ckpt(i) = df.localCheckpoint(true)
    })
    val (truth, fams) = (ckpt.head, ckpt.tail)
    def recallOf(family: String, approx: DataFrame): DataFrame =
      truth.join(approx, Seq("q_id", "vec_id"), "left")
        .groupBy($"q_id")
        .agg(count(lit(1)).as("k"),
          sum(when($"hit".isNull, 0L).otherwise(1L)).as("n_hit"))
        // mean = Σhits/Σk in INTEGER sums with one final division — a
        // double AVG over per-query fractions would be summation-order-
        // sensitive and break the hash-match; MIN over doubles is
        // order-free, and each per-query recall is a single division.
        .agg(count(lit(1)).as("n_queries"),
          sum($"n_hit").as("total_hit"), sum($"k").as("total_k"),
          min($"n_hit".cast("double") / $"k".cast("double")).as("worst_recall"))
        .select(lit(family).as("family"), $"n_queries",
          ($"total_hit".cast("double") / $"total_k".cast("double")).as("mean_recall"),
          $"worst_recall")
    recallOf("ivf", fams(0))
      .union(recallOf("lsh", fams(1)))
      .union(recallOf("pq", fams(2)))
      .union(recallOf("sq", fams(3)))
      .orderBy($"family")
  }

  val q92Oracle: String = {
    def per(family: String): String =
      s"""SELECT '$family' AS family, CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(n_hit) AS DOUBLE) / CAST(SUM(k) AS DOUBLE) AS mean_recall,
         |  MIN(CAST(n_hit AS DOUBLE) / CAST(k AS DOUBLE)) AS worst_recall FROM (
         |  SELECT t.q_id, COUNT(*) AS k,
         |    SUM(CASE WHEN a.hit IS NULL THEN 0 ELSE 1 END) AS n_hit
         |  FROM (SELECT q_id, vec_id FROM (${q55Oracle.replace("\n", "\n  ")}) tr
         |        WHERE rank <= 3) t
         |  LEFT JOIN (SELECT q_id, vec_id, 1 AS hit
         |             FROM (${oracle2(family).replace("\n", "\n  ")}) ap) a
         |    USING (q_id, vec_id)
         |  GROUP BY t.q_id) perq_$family""".stripMargin
    s"""${per("ivf")}
       |UNION ALL
       |${per("lsh")}
       |UNION ALL
       |${per("pq")}
       |UNION ALL
       |${per("sq")}
       |ORDER BY family""".stripMargin
  }

  /** The per-family approximate-answer oracle behind [[q92Oracle]]. */
  // ---------------------------------------------------------------- q151
  /** IVF nprobe tuning sweep — the recall-vs-cost curve an index owner
    * tables before fixing the serving configuration: the REGISTERED
    * [[ivfTopK]] subplan run at nprobe ∈ {1, 2, 4} against the brute
    * top-3 truth, with each configuration's integer SCAN COST alongside
    * its recall. `scanned` counts the candidate vectors the probe
    * actually scores (Σ probed-cell occupancy minus the self-hits the
    * candidate join excludes) — the exact quantity nprobe trades recall
    * against, computed from cell-occupancy metadata, never by counting a
    * materialized candidate set. The gate q92 answers ("is the shelf
    * healthy at its fixed config") becomes "WHERE on the curve should
    * the config sit" — the production tuning artifact.
    *
    * Scale shape: truth is one checkpointed brute pass (the q92
    * discipline — a gate job's deliberate cost); per configuration the
    * approx side is the registered probe subplan (map-side assignment
    * against the staged quantizer, broadcast probes); the cost estimate
    * joins the ≤ nprobe·|queries|-row probe table against the
    * nlist-row occupancy table — pure metadata; recall aggregates are
    * integer sums (q92's Σhit/Σk rule). */
  /** The queries' probed cells at a given width — (q_id, cell), the
    * probe table [[ivfTopK]] broadcasts; exposed for q151's cost terms
    * and its spec's independent refold. */
  private[graft] def ivfTopKProbeCells(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    import s.implicits._
    val (cells, mats) = cachedCentroidMeta(s, dir)
    Tables(s, dir, "embeddings").filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"),
        explode(graft.functions.NearestCellsUtil
          .column($"embedding", cells, mats, nprobe)).as("cell"))
  }

  def q151IvfSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val (cells, mats) = cachedCentroidMeta(s, dir)
    def nc(v: Column, kk: Int): Column =
      graft.functions.NearestCellsUtil.column(v, cells, mats, kk)
    // truth scan + nlist-row occupancy: two independent eager checkpoints,
    // materialized concurrently (guide §2.6, the q92 fan)
    val pair = new Array[DataFrame](2)
    Fan.out(Seq(
      () => pair(0) = q55AnnBrute(s, dir).filter($"rank" <= 3)
        .select($"q_id", $"vec_id").localCheckpoint(true),
      () => pair(1) = ivfAssigned(s, dir).groupBy($"cell")
        .agg(count(lit(1)).as("n")).localCheckpoint(true)))
    val (truth, occ) = (pair(0), pair(1))
    val qOwn = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), element_at(nc($"embedding", 1), 1).as("own"))
    def config(nprobe: Int): DataFrame = {
      val qprobe = ivfTopKProbeCells(s, dir, nprobe)
      val cost = qprobe.join(broadcast(occ), "cell")
        .join(broadcast(qOwn), "q_id")
        .agg(sum($"n").as("gross"),
          sum(when($"cell" === $"own", 1L).otherwise(0L)).as("self_hits"))
        .select(($"gross" - $"self_hits").as("scanned"))
      val recall = truth
        .join(ivfTopK(s, dir, 3, nprobe)
          .select($"q_id", $"vec_id", lit(1).as("hit")),
          Seq("q_id", "vec_id"), "left")
        .groupBy($"q_id")
        .agg(count(lit(1)).as("k"),
          sum(when($"hit".isNull, 0L).otherwise(1L)).as("n_hit"))
        .agg(count(lit(1)).as("n_queries"),
          sum($"n_hit").as("total_hit"), sum($"k").as("total_k"),
          min($"n_hit".cast("double") / $"k".cast("double")).as("worst_recall"))
      recall.crossJoin(cost)
        .select(lit(nprobe.toLong).as("nprobe"), $"n_queries", $"scanned",
          ($"total_hit".cast("double") / $"total_k".cast("double")).as("mean_recall"),
          $"worst_recall")
    }
    config(1).unionByName(config(2)).unionByName(config(4))
      .orderBy($"nprobe")
  }

  val q151Oracle: String = {
    def per(np: Int): String =
      s"""SELECT $np::BIGINT AS nprobe,
         |  CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  (SELECT CAST(SUM(o.n) AS BIGINT)
         |   FROM (${probeCte(np)}) qp
         |   JOIN (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
         |         FROM (${assignedSub}) av GROUP BY cell) o USING (cell))
         |  - (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM (${probeCte(np)}) qp
         |     JOIN (${assignedSub}) av
         |       ON av.vec_id = qp.q_id AND av.cell = qp.cell) AS scanned,
         |  CAST(SUM(n_hit) AS DOUBLE) / CAST(SUM(k) AS DOUBLE) AS mean_recall,
         |  MIN(CAST(n_hit AS DOUBLE) / CAST(k AS DOUBLE)) AS worst_recall FROM (
         |  SELECT t.q_id, COUNT(*) AS k,
         |    SUM(CASE WHEN a.hit IS NULL THEN 0 ELSE 1 END) AS n_hit
         |  FROM (SELECT q_id, vec_id FROM (${q55Oracle.replace("\n", "\n  ")}) tr
         |        WHERE rank <= 3) t
         |  LEFT JOIN (SELECT q_id, vec_id, 1 AS hit
         |             FROM (${ivfTopKOracle(3, np).replace("\n", "\n  ")}) ap) a
         |    USING (q_id, vec_id)
         |  GROUP BY t.q_id) perq_$np""".stripMargin
    s"""${per(1)}
       |UNION ALL
       |${per(2)}
       |UNION ALL
       |${per(4)}
       |ORDER BY nprobe""".stripMargin
  }

  /** The probe-cell set at a given nprobe (q_id, cell) and the nearest-
    * cell assignment, as standalone subqueries for q151's cost terms. */
  private def probeCte(np: Int): String =
    s"""WITH ${ivfAssignCte.replace("\n", "\n  ")}
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS crn
       |    FROM scored WHERE vec_id < 10)
       |  WHERE crn <= $np""".stripMargin
  private def assignedSub: String =
    s"""WITH ${ivfAssignCte.replace("\n", "\n  ")}
       |  SELECT vec_id, cell FROM assigned""".stripMargin

  private def oracle2(family: String): String = family match {
    case "lsh" => q56Oracle
    case "ivf" => q59Oracle
    case "pq"  => q73Oracle
    case "sq"  => q120Oracle
    case other => throw new IllegalArgumentException(s"unknown ANN family: $other")
  }

  // ---------------------------------------------------------------- q104
  /** Hard-negative mining for contrastive retrieval training — the
    * training-data op a dual-encoder pipeline runs between corpus curation
    * and fine-tuning: for every query, take the docs the INDEX retrieves
    * high (IVF top-20 through [[ivfTopK]] — the exact subplan q59 serves
    * and q92 recall-gates), remove the known positives (exact brute-force
    * top-3, [[bruteTopK]] — the labeled-relevant stand-in), and keep the
    * top-5 remaining by index rank. Those are the "hard" negatives: close
    * enough in embedding space to be retrieved, yet not relevant — exactly
    * the examples a contrastive loss learns the most from (in-batch random
    * negatives are trivially separable by comparison).
    *
    * Plan shape: both inputs end in their own per-query top-k, so the
    * corpus never exchanges beyond the registered subplans; the mining
    * itself — a left-anti join on (q_id, vec_id) plus a re-rank window —
    * runs over ≤ (20+3)·|queries| rows, metadata at any corpus scale. The
    * neg_rank window orders by the IVF rank, which is unique per query —
    * fully deterministic, no tie-break needed. */
  def q104HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val positives = bruteTopK(s, dir, 3).select($"q_id", $"vec_id")
    val cand = ivfTopK(s, dir, 20, 2)
    val w = Window.partitionBy($"q_id").orderBy($"rank")
    cand.join(positives, Seq("q_id", "vec_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter($"neg_rank" <= 5)
      .select($"q_id", $"neg_rank", $"vec_id", $"cell", $"cos")
      .orderBy($"q_id", $"neg_rank")
  }

  val q104Oracle: String =
    s"""WITH pos AS (
       |  SELECT q_id, vec_id FROM (${q55Oracle.replace("\n", "\n  ")}) p
       |  WHERE rank <= 3),
       |cand AS (
       |  SELECT q_id, rank, vec_id, cell, cos
       |  FROM (${ivfTopKOracle(20, 2).replace("\n", "\n  ")}) c),
       |mined AS (
       |  SELECT c.q_id, c.rank, c.vec_id, c.cell, c.cos
       |  FROM cand c LEFT JOIN pos p
       |    ON p.q_id = c.q_id AND p.vec_id = c.vec_id
       |  WHERE p.vec_id IS NULL)
       |SELECT q_id, neg_rank, vec_id, cell, cos FROM (
       |  SELECT q_id, vec_id, cell, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY rank) AS BIGINT) AS neg_rank
       |  FROM mined)
       |WHERE neg_rank <= 5
       |ORDER BY q_id, neg_rank""".stripMargin

  // ---------------------------------------------------------------- q120
  /** SQ8 scalar-quantized ANN (ADC + exact re-rank) — the fourth index
    * family, and the training-free compression point on the shelf: PQ
    * (q73) buys 64× compression with a clustering pass; SQ8 buys 4× (one
    * byte per dim) with TWO exact streaming aggregates — per-dim corpus
    * min/max — which is why production vector stores (FAISS SQ8, Lucene
    * int8) reach for it first at ingest time. Every vector is encoded
    * map-side by the codegen'd [[graft.functions.SqEncode]]
    * (`code_d = clamp(⌊(x_d − min_d)/range_d · 255⌋, 0, 255)`); queries
    * score candidates with ADC against the bucket-midpoint reconstruction
    * `recon(d,c) = min_d + (c + 0.5)·range_d/255` via a per-query LUT
    * (64 dims × 256 codes of partial products — bounded broadcast
    * metadata, same [[graft.functions.GatherSum]] inner loop as q73),
    * then the top-64 ADC candidates are re-ranked by EXACT cosine for the
    * final top-3.
    *
    * Scale shape: training is one partial-aggregated groupBy on the dim
    * index (64 groups); bounds, the reconstruction-norm table, and the
    * query LUTs are bounded collected metadata (2×64 + 64×256 +
    * |queries|·64×256 doubles — the q59-centroid class); encode + ADC is
    * a map-side projection + broadcast join over the scan — the corpus
    * NEVER shuffles before the per-query top-64.
    *
    * Determinism discipline (hash-matched oracle through the float
    * quantizer): the quantization transform divides before the ×255
    * multiply in both engines; ⌊·⌋ on a non-negative double is exact;
    * recon/LUT/ADC folds accumulate left-to-right from a 0.0 seed in dim
    * order; rank ties to the lower vec_id. Constant dims (range 0) pin to
    * code 0 and reconstruct to the bound itself. */
  def q120AnnSq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sqTopK(s, dir, 3)
      .select($"q_id", $"rank", $"vec_id", $"approx_cos", $"cos")
      .orderBy($"q_id", $"rank")
  }

  /** q120's SQ8 probe-and-rank at a parameterized depth — the registered
    * encode + ADC + exact-re-rank subplan, reused by the q124 hybrid
    * fusion the way [[ivfTopK]]/[[lshTopK]] serve q102/q116. Columns
    * (q_id, rank ≤ k, vec_id, approx_cos, cos); unsorted. */
  /** SQ8 training: per-dim corpus (min, range) — one 64-group partial
    * agg + a bounded collect. Consumed via [[cachedSqBounds]]. */
  private def trainSqBounds(s: SparkSession,
      dir: String): (Array[Double], Array[Double]) = {
    import s.implicits._
    import org.apache.spark.sql.types.DoubleType
    val mmRows = Tables(s, dir, "embeddings")
      .select(posexplode($"embedding").as(Seq("d", "v")))
      .groupBy($"d")
      .agg(min($"v".cast(DoubleType)).as("mn"), max($"v".cast(DoubleType)).as("mx"))
      .orderBy($"d").collect()
    (mmRows.map(_.getDouble(1)), mmRows.map(r => r.getDouble(2) - r.getDouble(1)))
  }

  private[graft] def sqTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    // --- the staged SQ8 artifact (cachedSqBounds — trained once) ------
    val (mins, ranges) = cachedSqBounds(s, dir)
    // bucket-midpoint reconstruction of code c in dim d
    def recon(d: Int, c: Int): Double =
      if (ranges(d) == 0.0) mins(d) else mins(d) + (c + 0.5) * (ranges(d) / 255.0)
    val n2: Seq[Seq[Double]] =
      (0 until 64).map(d => (0 until 256).map { c =>
        val r = recon(d, c); r * r
      }.toSeq).toSeq
    // --- queries: bounded collect → driver-built ADC lookup tables ----
    val qRows = emb.filter($"vec_id" < 10)
      .select($"vec_id", $"embedding").orderBy($"vec_id").collect()
    val qdf = qRows.toSeq.map { r =>
      val id = r.getLong(0)
      val q = r.getSeq[Float](1)
      var qq = 0.0; var i = 0
      while (i < q.length) { qq += q(i).toDouble * q(i).toDouble; i += 1 }
      val lut: Seq[Seq[Double]] = (0 until 64).map { d =>
        (0 until 256).map(c => q(d).toDouble * recon(d, c)).toSeq
      }.toSeq
      (id, q, math.sqrt(qq), lut)
    }.toDF("q_id", "q_emb", "q_nrm", "lut")
    // --- encode + ADC: map-side over the scan, zero corpus shuffle ----
    val enc = emb.select($"vec_id", $"embedding",
        graft.functions.SqEncodeUtil.column($"embedding", mins, ranges).as("codes"))
      .withColumn("rnorm2", graft.functions.GatherSum.column($"codes", typedLit(n2)))
    val wCand = Window.partitionBy($"q_id").orderBy($"approx_cos".desc, $"vec_id")
    val cand = enc.crossJoin(broadcast(qdf))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adc_dot", graft.functions.GatherSum.column($"codes", $"lut"))
      .withColumn("approx_cos", $"adc_dot" / ($"q_nrm" * sqrt($"rnorm2")))
      .withColumn("crn", row_number().over(wCand))
      .filter($"crn" <= 64)
      .select($"q_id", $"q_emb", $"vec_id", $"approx_cos")
    // --- exact re-rank of the 64 ADC candidates -----------------------
    val wTop = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    cand.join(emb.select($"vec_id", $"embedding"), "vec_id")
      .withColumn("cos", VecFns.cosine($"q_emb", $"embedding"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter($"rank" <= k)
      .select($"q_id", $"rank", $"vec_id", $"approx_cos", $"cos")
  }

  // lazy: q92Oracle (declared earlier in init order) folds this into its
  // per-family union at object init — a strict val here would still be
  // null at that point
  lazy val q120Oracle: String =
    s"${sqTopKOracle(3)} ORDER BY q_id, rank"

  /** [[sqTopK]]'s oracle body at depth k — complete WITH…SELECT (columns
    * q_id, rank, vec_id, approx_cos, cos; no ORDER BY), embeddable as a
    * parenthesized derived table, mirroring [[ivfTopKOracle]]. */
  private[ops] def sqTopKOracle(k: Int): String = {
    // bucket-midpoint reconstruction of dim d's code on a vcode row v
    def reconSql(v: String, d: String): String =
      s"(CASE WHEN $v.rgs[$d + 1] = 0 THEN $v.mns[$d + 1] " +
        s"ELSE $v.mns[$d + 1] + (CAST($v.codes[$d + 1] AS DOUBLE) + 0.5) * ($v.rgs[$d + 1] / 255.0) END)"
    val cos = Sql.cosine("n.q_emb", "e.embedding")
    s"""WITH mm AS (
       |  SELECT i AS d,
       |    MIN(CAST(embedding[i + 1] AS DOUBLE)) AS mn,
       |    MAX(CAST(embedding[i + 1] AS DOUBLE)) AS mx
       |  FROM embeddings CROSS JOIN range(0, 64) r(i)
       |  GROUP BY i),
       |mml AS (
       |  SELECT list(mn ORDER BY d) AS mns, list(mx - mn ORDER BY d) AS rgs FROM mm),
       |vcode AS (
       |  SELECT vec_id, embedding, mns, rgs,
       |    list_transform(range(0, 64), cd ->
       |      CASE WHEN rgs[cd + 1] = 0 THEN 0::BIGINT
       |           ELSE LEAST(255::BIGINT, GREATEST(0::BIGINT,
       |             CAST(floor((CAST(embedding[cd + 1] AS DOUBLE) - mns[cd + 1]) / rgs[cd + 1] * 255.0) AS BIGINT)))
       |      END) AS codes
       |  FROM embeddings CROSS JOIN mml),
       |rn AS (
       |  SELECT vec_id, codes,
       |    list_reduce(list_prepend(0.0, list_transform(range(0, 64), rd ->
       |      ${reconSql("vcode", "rd")} * ${reconSql("vcode", "rd")})), (ra, rb) -> ra + rb) AS rnorm2
       |  FROM vcode),
       |qn AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb,
       |    sqrt(${Sql.dot("embedding", "embedding")}) AS q_nrm
       |  FROM embeddings WHERE vec_id < 10),
       |adc AS (
       |  SELECT q.q_id, v.vec_id,
       |    list_reduce(list_prepend(0.0, list_transform(range(0, 64), ad ->
       |      CAST(q.q_emb[ad + 1] AS DOUBLE) * ${reconSql("v", "ad")})), (aa, ab) -> aa + ab) AS adc_dot
       |  FROM vcode v CROSS JOIN qn q
       |  WHERE v.vec_id <> q.q_id),
       |cand AS (
       |  SELECT q_id, vec_id, approx_cos FROM (
       |    SELECT a.q_id, a.vec_id,
       |      a.adc_dot / (n.q_nrm * sqrt(r.rnorm2)) AS approx_cos,
       |      row_number() OVER (PARTITION BY a.q_id
       |        ORDER BY a.adc_dot / (n.q_nrm * sqrt(r.rnorm2)) DESC, a.vec_id) AS crn
       |    FROM adc a
       |    JOIN rn r ON r.vec_id = a.vec_id
       |    JOIN qn n ON n.q_id = a.q_id)
       |  WHERE crn <= 64)
       |SELECT q_id, rank, vec_id, approx_cos, cos FROM (
       |  SELECT c.q_id, c.vec_id, c.approx_cos, $cos AS cos,
       |    CAST(row_number() OVER (PARTITION BY c.q_id ORDER BY $cos DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM cand c
       |  JOIN qn n ON n.q_id = c.q_id
       |  JOIN embeddings e ON e.vec_id = c.vec_id)
       |WHERE rank <= $k""".stripMargin
  }

  // ---------------------------------------------------------------- q119
  /** Embedding sanity gate — the data-quality check an embedding pipeline
    * runs BEFORE vectors reach the index or the dedup stack: flags
    * zero-norm vectors (cosine against them is undefined — q54/q55 would
    * divide by zero) and norm outliers (a norm far outside the corpus
    * distribution is the signature of an encoder bug, a truncated write,
    * or an unnormalized mixed batch). Outlier bounds are the exact
    * rank-arithmetic 1st/99th percentiles (q74's discipline: a vector is
    * low iff rank·100 ≤ n, high iff rank·100 > 99·n over the total
    * (norm², vec_id) order — pure integers, no float quantile
    * interpolation). Norm² (the exact fold, no sqrt) keeps the whole gate
    * libm-free.
    *
    * Scale shape: norm² is a map-side codegen'd fold; the rank is ONE
    * total-order window (the only shuffle) — at 100 TB the percentile
    * bounds come from a sampled or sketched distribution (q106's
    * histogram) and the gate itself stays map-only; the fixture-scale
    * exact rank keeps the oracle bit-exact. */
  def q119EmbeddingSanity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"norm2", $"vec_id")
    val wn = Window.partitionBy(lit(1))
    Tables(s, dir, "embeddings")
      .select($"vec_id", VecFns.dot($"embedding", $"embedding").as("norm2"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("is_zero", $"norm2" === 0.0)
      .withColumn("is_low", $"rk" * 100 <= $"n")
      .withColumn("is_high", $"rk" * 100 > $"n" * 99)
      .filter($"is_zero" || $"is_low" || $"is_high")
      .select($"vec_id", $"norm2", $"rk", $"is_zero", $"is_low", $"is_high")
      .orderBy($"vec_id")
  }

  val q119Oracle: String =
    s"""WITH norms AS (
       |  SELECT vec_id, ${Sql.dot("embedding", "embedding")} AS norm2
       |  FROM embeddings e),
       |ranked AS (
       |  SELECT vec_id, norm2,
       |    CAST(row_number() OVER (ORDER BY norm2, vec_id) AS BIGINT) AS rk,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n
       |  FROM norms)
       |SELECT vec_id, norm2, rk,
       |  norm2 = 0.0 AS is_zero,
       |  rk * 100 <= n AS is_low,
       |  rk * 100 > n * 99 AS is_high
       |FROM ranked
       |WHERE norm2 = 0.0 OR rk * 100 <= n OR rk * 100 > n * 99
       |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q128
  /** IVF cell-balance audit — the index-GOVERNANCE view next to q92's
    * recall gate: per-cell vector counts for the registered assignment
    * ([[ivfAssigned]], the exact subplan q59/q102/q104 probe), with the
    * corpus-wide totals and a `hot` flag for cells holding more than 2×
    * their fair share. A skewed cell is the IVF failure mode q92 cannot
    * see: recall stays fine while every probe that lands in the hot cell
    * pays its occupancy in exact-cosine work — the p99-latency number a
    * serving review reads before choosing nlist. Flag arithmetic is pure
    * int64 (`n_vecs·n_cells > 2·n_total`); the one double is the terminal
    * `share` division.
    *
    * Scale shape: the count is a partial-aggregated groupBy(cell) — at
    * most nlist groups survive per map task, so the shuffle is
    * index-metadata-sized at any corpus scale; the totals row is
    * broadcast back onto the ≤ nlist-row count table. */
  def q128IvfBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = ivfAssigned(s, dir)
      .groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(count(lit(1)).as("n_cells"),
      sum($"n_vecs").as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select($"cell", $"n_vecs", $"n_cells", $"n_total",
        ($"n_vecs" * $"n_cells" > lit(2L) * $"n_total").as("hot"),
        ($"n_vecs".cast("double") / $"n_total".cast("double")).as("share"))
      .orderBy($"cell")
  }

  val q128Oracle: String =
    s"""WITH $ivfAssignCte,
       |counts AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
       |           FROM assigned GROUP BY cell),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       |        CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM counts)
       |SELECT cell, n_vecs, n_cells, n_total,
       |  (n_vecs * n_cells > 2 * n_total) AS hot,
       |  CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
       |FROM counts CROSS JOIN tot
       |ORDER BY cell""".stripMargin

  // ---------------------------------------------------------------- q184
  /** One Lloyd refinement step over the standing IVF quantizer — the
    * index-maintenance question q149's drift gate begs: the shelf's
    * centroids are per-LABEL means (the fixed coarse quantizer), but
    * vectors are ASSIGNED to their nearest centroid, so the cell means
    * under the real assignment differ from the label means. This step
    * reassigns (the literal [[ivfAssigned]] NearestCells projection, plus
    * the label column), recomputes exact decimal means per cell, and
    * reports per cell: occupancy, how many members still carry the cell's
    * own label, and the centroid movement in integer micro (the k-means
    * convergence signal an index-refresh job thresholds on before
    * rewriting the quantizer).
    *
    * Scale shape: assignment is the same zero-exchange codegen'd
    * projection q59 serves from; the mean recompute is one (cell, dim)
    * partial agg (nlist·64 surviving groups); the old quantizer joins
    * back as broadcast driver metadata (the cached centroid arrays).
    * Determinism: decimal-exact means and shift sums, floor before the
    * BIGINT cast (DuckDB's decimal→int cast ROUNDS where Spark's
    * truncates — floor first makes them agree). */
  def q184KmeansStep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import s.implicits._
    val (cells, mats) = cachedCentroidMeta(s, dir)
    val assigned = Tables(s, dir, "embeddings")
      .select($"vec_id", $"label", $"embedding",
        element_at(
          graft.functions.NearestCellsUtil.column($"embedding", cells, mats, 1), 1)
          .as("cell"))
      .localCheckpoint(true) // feeds means + sizes: one assignment pass
    val newMeans = assigned
      .select($"cell", posexplode($"embedding").as(Seq("d", "v")))
      .groupBy($"cell", $"d")
      .agg((sum($"v".cast(DecimalType(18, 9))).cast(DoubleType) / count(lit(1)))
        .as("m_new"))
    val oldMeans = cells.zip(mats).toSeq.flatMap { case (c, arr) =>
      arr.zipWithIndex.map { case (m, d) => (c, d, m) }
    }.toDF("cell", "d", "m_old") // nlist·64 driver rows — bounded metadata
    val shifts = newMeans.join(broadcast(oldMeans), Seq("cell", "d"))
      .groupBy($"cell")
      .agg(floor(sum(abs($"m_new" - $"m_old").cast(DecimalType(18, 9)))
        * 1000000).cast("long").as("shift_micro"))
    val sizes = assigned.groupBy($"cell")
      .agg(count(lit(1)).as("n_assigned"),
        sum(when($"label".cast("long") === $"cell", 1L).otherwise(0L))
          .as("n_own_label"))
    sizes.join(shifts, "cell")
      .select($"cell", $"n_assigned", $"n_own_label", $"shift_micro")
      .orderBy($"cell")
  }

  val q184Oracle: String =
    s"""WITH $ivfAssignCte,
       |nm AS (
       |  SELECT cell, i AS d,
       |    CAST(SUM(CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(18,9)))
       |      AS DOUBLE) / COUNT(*) AS m_new
       |  FROM assigned CROSS JOIN range(0, 64) r(i)
       |  GROUP BY cell, i),
       |om AS (
       |  SELECT cell, i AS d, centroid[i + 1] AS m_old
       |  FROM cent CROSS JOIN range(0, 64) r(i)),
       |sh AS (
       |  SELECT cell,
       |    CAST(floor(SUM(CAST(abs(m_new - m_old) AS DECIMAL(18,9))) * 1000000)
       |      AS BIGINT) AS shift_micro
       |  FROM nm JOIN om USING (cell, d) GROUP BY cell),
       |sz AS (
       |  SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS n_assigned,
       |    CAST(SUM(CASE WHEN CAST(e.label AS BIGINT) = a.cell THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_own_label
       |  FROM assigned a JOIN embeddings e USING (vec_id) GROUP BY a.cell)
       |SELECT cell, n_assigned, n_own_label, shift_micro
       |FROM sz JOIN sh USING (cell) ORDER BY cell""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q128_ivf_balance" -> q128IvfBalance _,
    "q55_ann_brute" -> q55AnnBrute _,
    "q56_ann_lsh" -> q56AnnLsh _,
    "q59_ann_ivf" -> q59AnnIvf _,
    "q184_kmeans_step" -> q184KmeansStep _,
    "q73_ann_pq" -> q73AnnPq _,
    "q86_random_projection" -> q86RandomProjection _,
    "q88_ann_recall" -> q88AnnRecall _,
    "q92_ann_recall_families" -> q92AnnRecallFamilies _,
    "q104_hard_negatives" -> q104HardNegatives _,
    "q119_embedding_sanity" -> q119EmbeddingSanity _,
    "q120_ann_sq" -> q120AnnSq _,
    "q151_ivf_sweep" -> q151IvfSweep _,
  )

  val oracles: Map[String, String] = Map(
    "q128_ivf_balance" -> q128Oracle,
    "q55_ann_brute" -> q55Oracle,
    "q56_ann_lsh" -> q56Oracle,
    "q59_ann_ivf" -> q59Oracle,
    "q184_kmeans_step" -> q184Oracle,
    "q73_ann_pq" -> q73Oracle,
    "q86_random_projection" -> q86Oracle,
    "q88_ann_recall" -> q88Oracle,
    "q92_ann_recall_families" -> q92Oracle,
    "q104_hard_negatives" -> q104Oracle,
    "q119_embedding_sanity" -> q119Oracle,
    "q120_ann_sq" -> q120Oracle,
    "q151_ivf_sweep" -> q151Oracle,
  )
}
