package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Similarity

/** S10 — streaming vector-index refresh: the ANN analog of S8's corpus
  * refresh. Batches of new embeddings are assigned to their IVF cell
  * MAP-SIDE (the codegen'd NearestCells projection against the coarse
  * quantizer trained ONCE from the standing corpus — bounded centroid
  * metadata, the q59 discipline) and appended to a cell-partitioned index;
  * a probe then reads ONLY its nprobe cells through partition pruning, so
  * fresh vectors are searchable one micro-batch after arrival without any
  * index rebuild.
  *
  * Layout/idempotency: each batch writes `index/batch=<id>/cell=<c>/…` —
  * `partitionBy(cell)` under an overwrite of the batch's own partition
  * (the S8 protocol): a replayed at-least-once batch re-derives the same
  * assignment (pure function of batch × fixed centroids) and overwrites
  * itself, so the index never double-counts. Both `batch` and `cell`
  * surface as inferred partition columns on read; probes filter on `cell`,
  * which prunes at the directory level across every batch.
  *
  * At 100 TB the centroid table is the trained nlist-row quantizer (still
  * bounded metadata); the per-batch work is one codegen'd projection plus
  * a partitioned append of the batch's own rows — no shuffle, no touch of
  * the standing index. Re-training drift is the periodic BATCH job
  * [[retrain]] — deliberately out of the hot path, as in any production
  * IVF serving stack.
  *
  * Generations: the live index is `index-g<n>` for the newest commit
  * marker `index_current/g=<n>` (no marker = `index`, the initial layout).
  * [[retrain]] builds the NEXT generation fully — one Lloyd step over the
  * indexed vectors (per-cell exact decimal means → new centroids),
  * map-side reassignment, compacted cell partitions, and the new
  * centroids stored WITH the generation under a discovery-ignored
  * `_centroids` subdir — then commits by creating its marker. A probe in
  * flight reads whichever generation was newest when it started; nothing
  * is ever mutated in place, so probes see a consistent index through the
  * swap (spec-verified). Markers and generations are read and written
  * through the root's own Hadoop scheme, so this holds on hdfs:/s3a:
  * roots too. Retraining runs in the quiesced window between stream runs
  * (the nightly-rebuild discipline): a batch replayed ACROSS a retrain
  * boundary would re-add rows the compaction already holds — the same
  * reason Delta's OPTIMIZE locks the files it rewrites.
  */
object VectorIndexStream {

  /** Where the generation commit markers live: one `g=<n>` directory per
    * committed generation `index-g<n>`. */
  private def commits(root: String): String = s"$root/index_current"

  /** The active generation's directory name: the newest committed one. */
  private[streaming] def currentGen(s: SparkSession, root: String): String =
    BatchSink.ids(s, commits(root), "g").lastOption.fold("index")(n => s"index-g$n")

  /** The active generation's quantizer: retrained centroids stored with
    * the generation when present, the corpus-trained coarse quantizer
    * (q59's) for the initial generation. */
  private def genCentroids(s: SparkSession, root: String,
      corpusDir: String): (Array[Long], Array[Array[Double]]) = {
    import s.implicits._
    val cdir = s"$root/${currentGen(s, root)}/_centroids"
    if (!BatchSink.committed(s, cdir)) Similarity.ivfCentroidMeta(s, corpusDir)
    else {
      val rows = s.read.parquet(cdir)
        .select($"cell", $"centroid").orderBy($"cell").collect()
      (rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray))
    }
  }

  /** One batch's index write: map-side cell assignment + overwrite of the
    * batch's own partition. Deterministic in (batch, centroids), so an
    * at-least-once replay of the same batchId rewrites identical rows —
    * the S8 idempotency protocol, exercised directly by the spec. */
  private[streaming] def writeBatch(batch: DataFrame, batchId: Long,
      root: String, cells: Array[Long], cents: Array[Array[Double]]): Unit =
    BatchSink.write(root, batchId, BatchSink.Output(currentGen(batch.sparkSession, root),
      batch.withColumn("cell", element_at(
        graft.functions.NearestCellsUtil.column(col("embedding"), cells, cents, 1), 1)),
      partitionBy = Some("cell")))

  /** Streaming driver. `vecs` must carry (vec_id long, embedding
    * array<float>). Cells come from the active generation's quantizer
    * (the corpus-trained one until the first [[retrain]]). */
  def run(vecs: DataFrame, corpusDir: String, root: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    val (cells, cents) = genCentroids(s, root, corpusDir)
    BatchSink.start(vecs, root, trigger)(writeBatch(_, _, root, cells, cents))
  }

  /** Probe the streamed index: exact cosine top-k inside the query's
    * `nprobe` nearest cells — the q59 read path over the streaming layout.
    * The cell filter prunes partition directories across all batches. */
  def probe(s: SparkSession, root: String, corpusDir: String,
      queryVec: Seq[Float], k: Int = 3, nprobe: Int = 2): DataFrame = {
    import s.implicits._
    val (cells, cents) = genCentroids(s, root, corpusDir)
    val probeCells = nearestCells(queryVec, cells, cents, nprobe)
    val q = typedLit(queryVec)
    s.read.parquet(s"$root/${currentGen(s, root)}")
      .filter($"cell".isin(probeCells: _*))
      .withColumn("cos", graft.functions.VecFns.cosine(q, $"embedding"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(k)
      .select($"vec_id", $"cell", $"cos")
  }

  /** Build the next index generation WITHOUT committing it: one Lloyd
    * step — new centroid per cell = the exact decimal mean of the
    * vectors currently assigned there (iteration-order-free, the q59/q73
    * training discipline), every indexed vector reassigned map-side to
    * its nearest NEW centroid, written as compacted cell partitions
    * (`batch=-1` — a namespace no streamed batch id can collide with),
    * and the new centroids persisted with the generation. Returns the
    * new generation's directory name, or None when the index is empty.
    * Probes keep reading the old generation until [[commitGen]]. */
  private[streaming] def buildNextGen(s: SparkSession, root: String,
      corpusDir: String): Option[String] = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import s.implicits._
    val cur = s"$root/${currentGen(s, root)}"
    if (BatchSink.ids(s, cur).isEmpty) return None
    val indexed = s.read.parquet(cur).select($"vec_id", $"embedding")
      .localCheckpoint(true) // mean + reassign both consume it
    val centRows = s.read.parquet(cur)
      .select($"cell".cast("long").as("cell"),
        posexplode($"embedding").as(Seq("d", "v")))
      .groupBy($"cell", $"d")
      .agg((sum($"v".cast(DecimalType(18, 9))).cast(DoubleType) / count(lit(1))).as("m"))
      .groupBy($"cell")
      .agg(array_sort(collect_list(struct($"d", $"m"))).as("dm"))
      .select($"cell", transform($"dm", x => x.getField("m")).as("centroid"))
      .orderBy($"cell").collect() // nlist rows — bounded quantizer metadata
    val cellIds = centRows.map(_.getLong(0))
    val mats = centRows.map(_.getSeq[Double](1).toArray)
    val nextName =
      s"index-g${BatchSink.ids(s, commits(root), "g").lastOption.getOrElse(0L) + 1}"
    val nextDir = s"$root/$nextName"
    BatchSink.delete(s, nextDir)
    BatchSink.write(root, -1L, BatchSink.Output(nextName,
      indexed.withColumn("cell", element_at(
        graft.functions.NearestCellsUtil.column($"embedding", cellIds, mats, 1), 1)),
      partitionBy = Some("cell")))
    cellIds.zip(mats).toSeq.map { case (c, m) => (c, m.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1) // nlist rows of metadata — one file by design
      .write.mode(SaveMode.Overwrite).parquet(s"$nextDir/_centroids")
    Some(nextName)
  }

  /** Commit a built generation by creating its marker directory: one
    * create, never an overwrite or a rename, so it is atomic on every
    * Hadoop scheme — a probe resolves the old generation or the new, and
    * a crash before the create leaves the old one live. Superseded
    * markers stay (empty directories, one per retrain). */
  private[streaming] def commitGen(s: SparkSession, root: String, gen: String): Unit = {
    val p = new Path(s"${commits(root)}/g=${gen.stripPrefix("index-g")}")
    if (!p.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(p))
      throw new java.io.IOException(s"cannot commit $gen: mkdirs $p failed")
  }

  /** The periodic centroid-retraining job the S10 scaladoc promises:
    * build the next generation, commit its marker, drop the old
    * generation (production keeps N−1 for in-flight readers; the spec's
    * probes re-resolve the generation per call). No-op on an empty index. */
  def retrain(s: SparkSession, root: String, corpusDir: String): Unit =
    buildNextGen(s, root, corpusDir).foreach { next =>
      val old = currentGen(s, root)
      commitGen(s, root, next)
      BatchSink.delete(s, s"$root/$old")
    }

  /** Driver-side nearest-cell pick for the (single) probe vector — the
    * same cosine-to-centroid rule as the NearestCells expression,
    * INCLUDING its NaN order: `Double.compare` sorts NaN greatest, so a
    * degenerate zero-norm centroid (NaN cosine for every vector) is
    * probed first, matching where the write side routed those vectors —
    * a `sortBy(-cos)` would instead sort NaN last and make probes miss
    * the very cell the index assigned. */
  private def nearestCells(v: Seq[Float], cells: Array[Long],
      cents: Array[Array[Double]], nprobe: Int): Seq[Long] = {
    val vd = v.map(_.toDouble).toArray
    val vn = math.sqrt(vd.map(x => x * x).sum)
    cells.zip(cents).map { case (c, cent) =>
      var dot = 0.0
      var i = 0
      while (i < cent.length) { dot += vd(i) * cent(i); i += 1 }
      val cn = math.sqrt(cent.map(x => x * x).sum)
      (c, dot / (vn * cn))
    }.sortWith { case ((ca, cosa), (cb, cosb)) =>
      val cmp = java.lang.Double.compare(cosb, cosa) // desc, NaN greatest
      if (cmp != 0) cmp < 0 else ca < cb
    }.take(nprobe).map(_._1).toSeq
  }
}
