package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.Layout

/** S32 — streaming FILE-STATS MANIFEST maintenance: the artifact that
  * turns q202's zone-map arithmetic into a production read path. q202
  * priced how many files a predicate can skip; the LayoutSpec production
  * twin proved the per-file min/max really live in parquet footers; this
  * driver MAINTAINS the standing manifest a reader consults — the
  * Iceberg/Delta core loop (a table is a manifest of data files with
  * column stats; planning prunes files by stats before any data I/O),
  * re-expressed over plain parquet.
  *
  * Round 16 (VERDICT r15 #4) the manifest went TWO-dimensional — the
  * q202 lesson is that z-order pays on BOTH dimensions, so the write
  * path now lays each batch out z-ordered and the manifest tracks both
  * columns' zones:
  *
  *  - Rows carry (p double, d double) — price and date-days in the
  *    fixtures, any two range-predicated dimensions in production.
  *  - A STAGED bounds generation (the S28 [[StatsStream]] pattern)
  *    scales both columns onto the 1024×1024 Morton grid; out-of-range
  *    arrivals clamp to the edge cells exactly as S28 clamps to its
  *    edge bins. Since r17 the generation lives behind a pointer and
  *    RE-ELECTS on persistent drift (the S30 lifecycle, wired to this
  *    grid — [[runDrift]]/[[processBatchDrift]], VERDICT r16 #2).
  *  - Each batch's file assignment is the top [[GridBits]] bits of the
  *    q98/q202 Morton key ([[Layout.morton10]] — the literal audit
  *    expression): fid = zkey >> [[GridShift]], a DETERMINISTIC
  *    value-domain carve into the [[FilesPerBatch]] cells of a
  *    √F × √F grid over (p, d). No sampled boundaries anywhere — so
  *    unlike the r15 range-exchange layout, file CONTENTS and ZONES are
  *    replay-invariant, not merely the reader-observable results, and
  *    any consumer (the q205/q206 audits, a DuckDB oracle) can
  *    recompute the manifest from the data alone. Every file is a grid
  *    cell, so its footer zone is tight on p AND d by construction.
  *  - The per-batch write is `repartition(F, fid)` +
  *    `sortWithinPartitions(fid, zkey)` + `partitionBy(fid)`: one
  *    shuffle keyed on the cell id, writer-side split, z-clustered
  *    rows inside each file; empty cells write no file. At 100 TB the
  *    same plan holds with F sized to batch-rows/128 MB — the carve is
  *    a map-side projection, never a global sort.
  *
  * Per micro-batch: write the batch's z-laid data files under
  * `data/batch=<id>/fid=<cell>`, then read the REAL footers of exactly
  * the files just written and overwrite `manifest/batch=<id>` with one
  * row per file: path, row count, min/max of BOTH columns. The footer
  * harvest is driver-side by design and metadata-sized (a handful of
  * files per batch; in production these stats arrive in the writer
  * tasks' commit messages — Iceberg's DataFile — rather than a post-hoc
  * footer read; same rows, different transport).
  *
  * The read path: [[prunedRead]] filters the standing manifest by zone
  * overlap on the CONJUNCTION of both range predicates and opens ONLY
  * the surviving files — planning I/O is manifest-sized, data I/O is
  * proportional to the predicates' true selectivity × layout quality,
  * never to table size. That is the whole 100 TB point: the scan cost
  * of a price×date range query over a year of data is decided by this
  * artifact, not by the table's row count.
  *
  * Idempotency protocol (S8/S9/S28/S29/S31): both the data directory and
  * the manifest partition are per-batch overwrites keyed by `batch=<id>`,
  * manifest AFTER data — a replayed batch rewrites its data files and
  * re-harvests footers from what it just wrote, so the manifest can never
  * describe files that are not on disk (a crash between data and manifest
  * leaves the batch's files invisible to readers until the replay heals
  * both). With the deterministic grid carve a replay rewrites
  * byte-equivalent cell files, so the manifest zones themselves are
  * replay-invariant (spec-pinned). */
object ManifestStream {

  /** Grid granularity: 4 bits → a 4×4 grid of 256×256 Morton cells →
    * at most 16 files per batch. Coarse enough that the per-batch
    * footer harvest stays trivially metadata-sized, fine enough that a
    * fifth-range predicate on either dimension skips whole grid rows or
    * columns (the measured two-dimension skip rate is spec-pinned). */
  val GridBits = 4
  val FilesPerBatch: Int = 1 << GridBits
  /** zkey is 20 bits (10 per dimension); the file id is its top
    * [[GridBits]] bits — interleaved, so fid bits alternate d/p and the
    * 16 cells tile the plane 4×4. */
  val GridShift: Int = 20 - GridBits

  /** The staged scaling generation: global min/max of both columns.
    * Driver-side four doubles — a generation artifact, not data motion
    * (the S28 staged-bounds discipline). Fixed-bounds entry points
    * ([[run]]/[[processBatch]]) take it as a constant; the drift-aware
    * entry points ([[runDrift]]/[[processBatchDrift]] — VERDICT r16 #2)
    * keep it behind a generation pointer under `zbounds/` and RE-ELECT
    * it when arrivals drift out of the staged box, S30's lifecycle wired
    * to this stream's grid. */
  final case class ZBounds(pMn: Double, pMx: Double, dMn: Double, dMx: Double)

  /** Elect staged bounds from a standing frame carrying (p, d). Requires
    * non-degenerate ranges on both, like q197/S28. */
  def stageBounds(rows: DataFrame): ZBounds = {
    val r = rows.agg(min(col("p")), max(col("p")),
      min(col("d")), max(col("d"))).head()
    val b = ZBounds(r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3))
    require(b.pMx > b.pMn && b.dMx > b.dMn, s"degenerate bounds $b")
    b
  }

  /** One dimension's 10-bit grid coordinate under the staged bounds —
    * the q202/LayoutSpec scaling expression verbatim, clamped to the
    * edge cells for out-of-generation arrivals. The clamp happens in
    * DOUBLE space BEFORE the long cast (with NaN collapsed to the low
    * edge via nanvl): a +Inf or NaN arrival must land in an edge cell
    * like any other out-of-generation value — under ANSI (this Spark 4
    * default) `cast(Inf as long)` would instead throw and kill the
    * whole ingest stream. */
  private def gridCoord(c: Column, mn: Double, mx: Double): Column =
    least(greatest(
      nanvl(floor((c - lit(mn)) * lit(1024.0) / lit(mx - mn)), lit(0.0)),
      lit(0.0)), lit(1023.0)).cast("long")

  /** The batch's z-key and deterministic cell/file id. */
  private[streaming] def withCell(batch: DataFrame, b: ZBounds): DataFrame =
    batch
      .withColumn("zkey", Layout.morton10(
        gridCoord(col("p"), b.pMn, b.pMx),
        gridCoord(col("d"), b.dMn, b.dMx)))
      .withColumn("fid", shiftright(col("zkey"), GridShift))

  val ManifestSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("mn_p", DoubleType, nullable = false),
    StructField("mx_p", DoubleType, nullable = false),
    StructField("mn_d", DoubleType, nullable = false),
    StructField("mx_d", DoubleType, nullable = false)))

  /** REAL footer stats of every parquet file under `dir` (recursive —
    * the z-laid batch writes one `fid=<cell>` directory per non-empty
    * cell): (path, rows, min/max p, min/max d) — the writer-commit
    * metadata, harvested post hoc. */
  private[streaming] def harvest(s: SparkSession, dir: String): Seq[Row] = {
    val conf = s.sparkContext.hadoopConfiguration
    val d0 = new Path(dir)
    val f = d0.getFileSystem(conf)
    def walk(p: Path): Seq[Path] =
      f.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
        else Seq.empty
      }
    walk(d0).map { path =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
      try {
        var (pMn, pMx) = (Double.MaxValue, Double.MinValue)
        var (dMn, dMx) = (Double.MaxValue, Double.MinValue)
        var rows = 0L
        var statsSeen = true
        r.getFooter.getBlocks.asScala.foreach { b =>
          rows += b.getRowCount
          b.getColumns.asScala.foreach { c =>
            def upd(cur: (Double, Double)): (Double, Double) =
              (c.getStatistics.genericGetMin,
                c.getStatistics.genericGetMax) match {
                case (lo: java.lang.Double, hi: java.lang.Double) =>
                  (math.min(cur._1, lo), math.max(cur._2, hi))
                case _ => statsSeen = false; cur
              }
            c.getPath.toDotString match {
              case "p" => val u = upd((pMn, pMx)); pMn = u._1; pMx = u._2
              case "d" => val u = upd((dMn, dMx)); dMn = u._1; dMx = u._2
              case _ =>
            }
          }
        }
        // a file whose footer carries NO usable zone on either column
        // (parquet-mr omits float min/max when a column contains NaN)
        // must stay VISIBLE to every read — an unknown zone means
        // "cannot skip", never "skip always" (the read ⊇ match
        // invariant); the infinite zone overlaps every predicate. NaN
        // stats themselves (ADVICE r15: mn > mx is FALSE for NaN, and a
        // NaN zone fails every overlap test — the file would go
        // permanently invisible) degrade to the same infinite zone.
        def bad(mn: Double, mx: Double) = mn > mx || mn.isNaN || mx.isNaN
        if (!statsSeen || rows == 0L || bad(pMn, pMx) || bad(dMn, dMx))
          Row(path.toString, rows,
            Double.NegativeInfinity, Double.PositiveInfinity,
            Double.NegativeInfinity, Double.PositiveInfinity)
        else Row(path.toString, rows, pMn, pMx, dMn, dMx)
      } finally r.close()
    }
  }

  /** One micro-batch: z-laid data files first (the deterministic Morton
    * cell carve under the staged bounds), then the manifest partition
    * from their REAL footers. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      root: String, b: ZBounds): Unit = {
    val s = batch.sparkSession
    BatchSink.write(root, batchId, BatchSink.Output("data",
      withCell(batch, b)
        .repartition(FilesPerBatch, col("fid"))
        .sortWithinPartitions(col("fid"), col("zkey"))
        .drop("zkey"),
      partitionBy = Some("fid")))
    val stats = harvest(s, s"$root/data/batch=$batchId")
    BatchSink.write(root, batchId, "manifest" ->
      s.createDataFrame(stats.asJava, ManifestSchema).coalesce(1))
  }

  /** Streaming driver. `rows` must carry (p double, d double); `bounds`
    * is the staged generation from [[stageBounds]]. */
  def run(rows: DataFrame, root: String, bounds: ZBounds,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(rows, root, trigger)(processBatch(_, _, root, bounds))

  // ------------------------------------------- drift re-election (r17)
  // VERDICT r16 #2: under fixed bounds a drifted distribution lands
  // every arrival in the grid's edge cells — one Morton cell per batch,
  // so the carve stops splitting and two-dimensional pruning decays to
  // zero skips on new data (never a correctness loss: footer zones are
  // PHYSICAL, so edge-cell files still prune against truly-disjoint
  // predicates — what decays is the tightness the grid exists to buy).
  // The lifecycle below keeps the staged bounds behind a generation
  // pointer (`zbounds/gen=<electing batch>`, S27/S30/S33's `_SUCCESS`
  // listing discipline) and re-elects when arrivals clamp persistently:
  //
  //  - per batch, the fraction of arrivals OUTSIDE the staged box is
  //    written to `zbounds/frac/batch=<id>` (1-row telemetry, overwrite-
  //    idempotent like every per-batch artifact here);
  //  - when [[DriftWindow]] consecutive batches clamp ≥ [[DriftThreshold]]
  //    (the app.ts:547-588 "N evaluation periods" alarm shape — one
  //    outlier batch must not thrash the grid), the current batch elects
  //    NEW bounds from its own rows and cuts the grid over: it and every
  //    later batch carve under the new generation, while files committed
  //    under old generations stay readable forever — their zones are
  //    physical, not grid-derived, so the read path never consults the
  //    bounds at all.
  //
  // Replay determinism (the foreachBatch contract — only the latest
  // uncommitted batch replays): the election decision is a pure function
  // of PRIOR batches' committed artifacts plus the current batch's rows,
  // and a replayed batch deletes its own generation and telemetry before
  // recomputing, so a crashed election heals to the identical decision
  // (spec-pinned).

  /** Re-elect when this many consecutive batches clamp ≥ the threshold. */
  val DriftWindow = 2

  /** Fraction of a batch's arrivals outside the staged box that counts
    * as a drifted batch. */
  val DriftThreshold = 0.5

  private[streaming] def boundsDir(root: String) = s"$root/zbounds"

  /** Persist a bounds generation (1-row parquet; Spark's `_SUCCESS` is
    * the commit marker the listing checks). */
  private def writeBoundsGen(s: SparkSession, root: String, gen: Long,
      b: ZBounds): Unit = {
    import s.implicits._
    Seq((b.pMn, b.pMx, b.dMn, b.dMx)).toDF("p_mn", "p_mx", "d_mn", "d_mx")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"${boundsDir(root)}/gen=$gen")
  }

  /** The highest COMPLETE bounds generation, if any. Initial bounds are
    * staged as gen=-1 (before any batch id) by [[runDrift]]. */
  private[streaming] def latestBoundsGen(s: SparkSession, root: String)
      : Option[(Long, ZBounds)] = {
    BatchSink.ids(s, boundsDir(root), "gen", committed = true).lastOption
      .map { g =>
        val r = s.read.parquet(s"${boundsDir(root)}/gen=$g").head()
        (g, ZBounds(r.getAs[Double]("p_mn"), r.getAs[Double]("p_mx"),
          r.getAs[Double]("d_mn"), r.getAs[Double]("d_mx")))
      }
  }

  /** One drift-aware micro-batch: heal own election artifacts, decide
    * under the standing generation, ingest under the (possibly new)
    * bounds, commit telemetry last. The batch is persisted — the clamp
    * fraction, a possible election scan, and the ingest are three
    * consumers of the same rows. */
  private[graft] def processBatchDrift(batch: DataFrame, batchId: Long,
      root: String): Unit = {
    val s = batch.sparkSession
    // self-heal: a previous ATTEMPT of this batch may have elected a
    // generation or written telemetry the replay is about to recompute
    for (d <- Seq(s"${boundsDir(root)}/gen=$batchId",
        s"${boundsDir(root)}/frac/batch=$batchId"))
      BatchSink.delete(s, d)
    val (curGen, cur) = latestBoundsGen(s, root).getOrElse(
      throw new IllegalStateException(
        s"no staged bounds generation under $root — use runDrift, which " +
          "stages the initial generation before the stream starts"))
    batch.persist()
    try {
      // clamp fraction: arrivals outside the staged box on either
      // dimension (NaN compares false everywhere — a NaN is an edge-cell
      // CLAMPER but not drift EVIDENCE; it can never vote for new bounds
      // it could not inform)
      val a = batch.agg(
        count(lit(1)).as("n"),
        count(when(col("p") < cur.pMn || col("p") > cur.pMx ||
          col("d") < cur.dMn || col("d") > cur.dMx, 1)).as("out")).head()
      val (n, out) = (a.getAs[Long]("n"), a.getAs[Long]("out"))
      val frac = if (n == 0) 0.0 else out.toDouble / n
      // previous consecutive batches' telemetry (committed, so stable
      // under this batch's replay). Only entries measured against the
      // CURRENT generation count: a batch's fraction vs superseded
      // bounds says nothing about the bounds that replaced them, and
      // counting it would let a single outlier right after an election
      // re-elect immediately — defeating the window's anti-thrash
      // purpose. The election therefore needs DriftWindow consecutive
      // drifted batches under the SAME generation.
      val prevDrifted = (1 until DriftWindow).forall { k =>
        scala.util.Try {
          val r = s.read
            .parquet(s"${boundsDir(root)}/frac/batch=${batchId - k}")
            .head()
          r.getAs[Double]("frac") >= DriftThreshold &&
            r.getAs[Long]("gen") == curGen
        }.getOrElse(false)
      }
      val bounds =
        if (frac >= DriftThreshold && prevDrifted) {
          // re-elect from this batch's own rows — the drifted regime IS
          // the new distribution. A degenerate batch (zero range on
          // either dim) cannot define a grid: keep the standing bounds
          // rather than kill the stream.
          val e = scala.util.Try(stageBounds(batch.select(
            col("p"), col("d")))).toOption
          e match {
            case Some(nb) =>
              writeBoundsGen(s, root, batchId, nb)
              System.err.println(s"[manifest] drift re-election at batch " +
                s"$batchId: $DriftWindow consecutive batches clamped ≥ " +
                s"$DriftThreshold (this batch: $frac); gen $curGen → $batchId")
              nb
            case None => cur
          }
        } else cur
      processBatch(batch, batchId, root, bounds)
      // telemetry LAST: a crash before this point replays the batch,
      // which recomputes the same fraction from the same rows. The
      // entry records the generation the fraction was measured AGAINST
      // (pre-election `curGen` even when this batch elected), so the
      // next batch's window check can require same-generation evidence.
      import s.implicits._
      BatchSink.write(boundsDir(root), batchId,
        "frac" -> Seq((frac, curGen)).toDF("frac", "gen").coalesce(1))
    } finally batch.unpersist()
    ()
  }

  /** Stage `initial` as bounds generation -1 — only when no generation
    * exists, so a restart keeps the standing pointer. Shared with the
    * S33 drift driver. */
  private[streaming] def stageInitialBounds(s: SparkSession, root: String,
      initial: ZBounds): Unit =
    if (latestBoundsGen(s, root).isEmpty)
      writeBoundsGen(s, root, -1L, initial)

  /** Drift-aware streaming driver: stages `initial` as bounds generation
    * -1 (only when no generation exists — a restart keeps the standing
    * pointer), then runs [[processBatchDrift]] per micro-batch. */
  def runDrift(rows: DataFrame, root: String, initial: ZBounds,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val s = rows.sparkSession
    stageInitialBounds(s, root, initial)
    BatchSink.start(rows, root, trigger)(processBatchDrift(_, _, root))
  }

  /** The standing manifest — |files| metadata rows. */
  def manifest(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/manifest")

  /** An unconstrained dimension is one left at the infinite defaults —
    * it gets NO zone test and NO row predicate at all, because both
    * would silently drop non-finite values (`mn < +Inf` is false for a
    * file whose rows are all +Inf; `x >= -Inf` is false for NaN): an
    * unconstrained read must be a plain read. */
  private def unconstrained(lo: Double, hi: Double): Boolean =
    lo.isNegInfinity && hi.isPosInfinity

  /** Planning over an arbitrary manifest FRAME (the raw manifest here,
    * the S33 compacted view in [[CompactStream]] — one helper so a
    * pruning fix can never miss one consumer): the files a conjunctive
    * `p ∈ [pLo, pHi) AND d ∈ [dLo, dHi)` read must open. */
  private[streaming] def prunedFilesFrom(man: DataFrame,
      pLo: Double, pHi: Double, dLo: Double, dHi: Double): Seq[String] = {
    val pZone =
      if (unconstrained(pLo, pHi)) lit(true)
      else col("mx_p") >= pLo && col("mn_p") < pHi
    val dZone =
      if (unconstrained(dLo, dHi)) lit(true)
      else col("mx_d") >= dLo && col("mn_d") < dHi
    man.where(pZone && dZone)
      .select("path").collect().map(_.getString(0)).toSeq
  }

  /** The pruned read over an arbitrary manifest frame: open ONLY the
    * overlapping files, then apply the exact predicates (skipping a
    * dimension left unconstrained). Returns an empty frame when the
    * predicates prune everything (zero files). */
  private[streaming] def prunedReadFrom(s: SparkSession, man: DataFrame,
      pLo: Double, pHi: Double, dLo: Double, dHi: Double): DataFrame = {
    val files = prunedFilesFrom(man, pLo, pHi, dLo, dHi)
    val base =
      if (files.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("p", DoubleType),
            StructField("d", DoubleType))))
      else s.read.parquet(files: _*)
    val pCond =
      if (unconstrained(pLo, pHi)) lit(true)
      else col("p") >= pLo && col("p") < pHi
    val dCond =
      if (unconstrained(dLo, dHi)) lit(true)
      else col("d") >= dLo && col("d") < dHi
    base.where(pCond && dCond)
  }

  /** Planning: zone overlap over the standing manifest, data untouched.
    * Leave a dimension's bounds at the infinite defaults to read it
    * unconstrained. */
  def prunedFiles(s: SparkSession, root: String,
      pLo: Double, pHi: Double,
      dLo: Double = Double.NegativeInfinity,
      dHi: Double = Double.PositiveInfinity): Seq[String] =
    prunedFilesFrom(manifest(s, root), pLo, pHi, dLo, dHi)

  /** The manifest-pruned read against the standing manifest. */
  def prunedRead(s: SparkSession, root: String,
      pLo: Double, pHi: Double,
      dLo: Double = Double.NegativeInfinity,
      dHi: Double = Double.PositiveInfinity): DataFrame =
    prunedReadFrom(s, manifest(s, root), pLo, pHi, dLo, dHi)
}
