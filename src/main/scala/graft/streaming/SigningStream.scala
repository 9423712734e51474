package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types.StringType

import graft.functions.Djb2

/** EP2 — the signing pipeline as Structured Streaming (SURVEY.md §3 EP2).
  * The reference's S3→SQS→Lambda fan-out collapses into Spark's file-source
  * new-file discovery: `readStream` over the lake directory replaces the
  * ObjectCreated notification chain (A4 subsumes A5).
  *
  * Flow: new lake files → PK = sha2(payload) (signer/index.js:133–137) →
  * streaming dedup against a state-store pk index (S4 "signed only once",
  * README.md:120–122) → broadcast keyring join (C1/C2; 100 keys) →
  * deterministic surrogate signature (F8) → idempotent append into the
  * signatures table (C3/A6, the DynamoDB `PutItem` analog).
  */
object SigningStream {

  /** The default signature column: the deterministic sha2 surrogate (F8's
    * oracle-checkable twin — bit-identical to batch q22 and the DuckDB
    * oracle). */
  val surrogateSigner: (Column, Column) => Column =
    (priv, payload) => sha2(concat(priv, lit("|"), payload), 256)

  /** The REAL signature column: RFC-6979 secp256k1 ECDSA over
    * sha256(payload) ([[graft.functions.SignFns]]) — the reference signer's
    * actual behavior (signer/index.js:295). Same seam, same determinism
    * (RFC 6979 k ⇒ replays sign byte-identically, preserving the S4
    * idempotent-upsert contract); not oracle-expressible, so specs verify
    * it cryptographically instead. */
  val ecdsaSigner: (Column, Column) => Column =
    (priv, payload) => graft.functions.SignFns.sign(priv, payload)

  /** Pure transform: payload → (pk, key_id, signature columns). Shared by
    * the streaming pipeline and batch backfills — same plan either way.
    * `signer` is the signature seam: surrogate by default, [[ecdsaSigner]]
    * for real crypto.
    */
  def signRecords(records: DataFrame, keyring: DataFrame,
      keyField: String = "id",
      signer: (Column, Column) => Column = surrogateSigner): DataFrame = {
    val keyed = records
      .withColumn("pk", sha2(col("payload"), 256))
      .withColumn("key",
        coalesce(get_json_object(col("payload"), s"$$.$keyField"), col("payload")))
      .withColumn("key_id", pmod(Djb2.djb2(col("key")), lit(100L)))
    keyed
      .join(broadcast(keyring), "key_id")
      .withColumn("signature", signer(col("priv"), col("payload")))
      .select(col("pk"), col("key_id"), col("address"), col("signature"),
        col("s3_path"))
  }

  /** A lake row keyed for the stream's dedup: `pk = sha2(payload)`. */
  private[streaming] final case class Keyed(pk: String, payload: String, s3_path: String)

  /** Streaming driver. Rows are keyed by `pk` and deduplicated against a
    * pk index held in the state store (one `Boolean` per pk, no timeout):
    * a pk the index holds emits nothing, a new pk emits its first row by
    * `s3_path` and enters the index. The survivors are signed and appended
    * to the signatures table partitioned by [[BucketCol]], with no listing
    * and no read of the table. Per trigger that is O(batch) state lookups
    * and O(batch) writes, whatever the table's size.
    *
    * The table stays the truth, and the index is a cache of it:
    *  - on a checkpoint with no committed batch (a new stream, or one whose
    *    checkpoint was lost) the index is seeded from the table's pks, read
    *    once; Spark applies an initial state to batch 0 only;
    *  - on a checkpoint with commits, the run's first batch may replay one
    *    whose rows already landed before its commit did, so it goes through
    *    the anti-join [[upsert]] instead of a plain append.
    * Either way no pk is written twice (C3/A6, the DynamoDB `PutItem`
    * analog keyed by pk, reference signer/index.js:210–216).
    */
  def run(lake: DataFrame, keyring: DataFrame, sigDir: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      keyField: String = "id")(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    val keyed = lake.select(sha2(col("payload"), 256).as("pk"), col("payload"),
      col("s3_path")).groupBy("pk").as[String, Keyed]
    val firstNew = (_: String, rows: Iterator[Keyed], seen: GroupState[Boolean]) =>
      // a seeded pk is also called once in batch 0, with no rows
      if (seen.exists || !rows.hasNext) Iterator.empty
      else { seen.update(true); Iterator.single(rows.minBy(_.s3_path)) }
    val schema = signRecords(lake, keyring, keyField).schema
      .add(BucketCol, StringType)
    migrateLegacyLayout(sigDir, schema)(spark)
    val resumed = hasCommits(checkpoint)(spark)
    val deduped =
      if (resumed || storedBuckets(sigDir)(spark).isEmpty)
        keyed.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(firstNew)
      else {
        // an initial state with a repeated key fails the query, and the
        // table's pks are unique only while one stream at a time writes it
        val seed = spark.read.schema(schema).parquet(sigDir).select("pk")
          .distinct().groupBy("pk").as[String, String].mapValues(_ => true)
        keyed.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout, seed)(firstNew)
      }
    val antiJoinNext = new java.util.concurrent.atomic.AtomicBoolean(resumed)
    signRecords(deduped.toDF(), keyring, keyField)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (antiJoinNext.getAndSet(false)) upsert(batch, sigDir)(batch.sparkSession)
        else batch.withColumn(BucketCol, substring(col("pk"), 1, 2))
          .write.mode(SaveMode.Append).partitionBy(BucketCol).parquet(sigDir)
      }
      .start()
  }

  /** Whether the stream checkpointed at `checkpoint` has committed a batch:
    * its `commits` directory holds a file named by a batch id. */
  private def hasCommits(checkpoint: String)(spark: SparkSession): Boolean = {
    val commits = new org.apache.hadoop.fs.Path(checkpoint, "commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(commits) && fs.listStatus(commits).exists { st =>
      val n = st.getPath.getName
      st.isFile && n.nonEmpty && n.forall(_.isDigit)
    }
  }

  /** Hive partition column of the signatures table: the first two hex chars
    * of the sha-256 PK — 256 uniformly-populated buckets (the PK is a
    * cryptographic hash, so bucket skew is impossible by construction).
    */
  val BucketCol = "pk_bucket"

  /** C3: left-anti against existing PKs, then append — "if the same
    * transaction is seen again, the signature is not duplicated". The
    * stream sends only the first batch of a resumed run here (see [[run]]).
    *
    * The table is written Hive-partitioned by [[BucketCol]], and the
    * anti-join lists and reads only the stored bucket directories whose
    * prefixes occur in the batch; a batch touching no stored bucket skips
    * it. That bounds the read by the touched buckets, not by the batch: a
    * batch of n uniform pks touches about 256·(1 − e^(−n/256)) of the 256
    * buckets, so from about 1,200 rows on it reads back nearly the whole
    * table, O(table history).
    */
  def upsert(batch: DataFrame, sigDir: String)(spark: SparkSession): Unit = {
    // deterministic survivor per pk (batch q22 uses first-by-event_id; the
    // stream has no event id, so first-by-s3_path — dropDuplicates alone
    // would keep an arbitrary row per run)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk")).orderBy(col("s3_path"))
    val fresh = batch
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .withColumn(BucketCol, substring(col("pk"), 1, 2))
      // evaluated twice (prefix collect + write) — cache so the signing
      // join doesn't re-run
      .persist()
    try {
      migrateLegacyLayout(sigDir, fresh.schema)(spark)
      val stored = storedBuckets(sigDir)(spark)
      // ≤256 two-hex-char strings — bounded driver-side metadata, not a
      // data collect
      val touched =
        if (stored.isEmpty) Seq.empty
        else fresh.select(BucketCol).distinct()
          .collect().map(_.getString(0)).toSeq.filter(stored)
      val toWrite =
        if (touched.isEmpty) fresh
        else fresh.join(existingPks(sigDir, touched, fresh.schema)(spark),
          Seq("pk"), "left_anti")
      toWrite.write.mode(SaveMode.Append).partitionBy(BucketCol).parquet(sigDir)
    } finally { fresh.unpersist(); () }
  }

  /** PKs already present in the buckets named by `prefixes`, each of which
    * must exist as a directory. Only those directories are listed and read
    * (`basePath` keeps [[BucketCol]] as a partition column); listing the
    * table root and pruning afterwards would list every file of every
    * bucket, O(table history) per batch.
    *
    * The schema is passed explicitly rather than inferred: partition-column
    * type inference would read `pk_bucket` as an INT whenever every bucket
    * directory read happens to be digit-only hex (`pk_bucket=07`,
    * `pk_bucket=42`), making the column's type flip between string and int
    * across batches. With a user schema the partition column is stably a
    * 2-char string. */
  def existingPks(sigDir: String, prefixes: Seq[String],
      schema: org.apache.spark.sql.types.StructType)(
      spark: SparkSession): DataFrame =
    spark.read.schema(schema).option("basePath", sigDir)
      .parquet(prefixes.map(p => s"$sigDir/$BucketCol=$p"): _*)
      .select("pk")

  /** One-time migration of a signatures table written before the
    * [[BucketCol]] partitioning (flat parquet files at the table root).
    * Appending partitioned data next to flat files would produce a mixed
    * layout Spark's partition discovery rejects outright, so the legacy
    * files are rewritten into bucket directories and removed.
    *
    * Protocol — every row lives in exactly ONE place at all times, so a
    * crash at any point neither loses nor duplicates data, and the next
    * call resumes:
    *  1. move the flat files into `<dir>.migrating-src` (per-file rename,
    *     atomic on HDFS/local; a crash mid-step leaves each file at root
    *     or in src, never both);
    *  2. rewrite src → `<dir>.migrating-out` partitioned by [[BucketCol]]
    *     (skipped on resume when out's `_SUCCESS` marker already exists;
    *     a partial out without the marker is discarded and rebuilt from
    *     src, which still holds every row);
    *  3. move out's bucket files into the table (per-file rename; files
    *     already moved by a crashed prior attempt are gone from out, so
    *     resuming moves only the remainder — no row lands twice);
    *  4. delete src, then out.
    * Any rename the filesystem refuses (`rename` returns false — how
    * Hadoop filesystems report most failures) aborts with an exception
    * BEFORE any delete, so nothing is dropped on a failed move. */
  private[streaming] def migrateLegacyLayout(sigDir: String,
      schema: org.apache.spark.sql.types.StructType)(
      spark: SparkSession): Unit = {
    val path = new org.apache.hadoop.fs.Path(sigDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return
    def strictRename(a: org.apache.hadoop.fs.Path,
        b: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(a, b))
        throw new java.io.IOException(s"migration rename failed: $a -> $b")
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val src = new org.apache.hadoop.fs.Path(sigDir + ".migrating-src")
    val out = new org.apache.hadoop.fs.Path(sigDir + ".migrating-out")
    val flatFiles = dataFiles(path).map(_.getPath)
    if (flatFiles.isEmpty && !fs.exists(src)) return
    // 1. root → src
    if (flatFiles.nonEmpty) fs.mkdirs(src)
    for (f <- flatFiles) strictRename(f, new org.apache.hadoop.fs.Path(src, f.getName))
    if (dataFiles(src).isEmpty) { fs.delete(src, true); fs.delete(out, true); return }
    // 2. src → out (resume-aware: a completed rewrite is marked by _SUCCESS)
    if (!fs.exists(new org.apache.hadoop.fs.Path(out, "_SUCCESS"))) {
      fs.delete(out, true)
      spark.read.schema(org.apache.spark.sql.types.StructType(
          schema.filterNot(_.name == BucketCol)))
        .parquet(src.toString)
        .withColumn(BucketCol, substring(col("pk"), 1, 2))
        .write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(out.toString)
    }
    // 3. out buckets → table
    for (bucket <- fs.listStatus(out) if bucket.isDirectory) {
      val target = new org.apache.hadoop.fs.Path(path, bucket.getPath.getName)
      fs.mkdirs(target)
      for (f <- dataFiles(bucket.getPath))
        strictRename(f.getPath,
          new org.apache.hadoop.fs.Path(target, f.getPath.getName))
    }
    // 4. cleanup — src first: once out's rows are in the table, src is the
    // only copy that could re-introduce duplicates on a resume.
    fs.delete(src, true)
    fs.delete(out, true)
  }

  /** The [[BucketCol]] values with a directory in the table, from one
    * listing of the table root through the Hadoop FileSystem API (works on
    * HDFS/S3A, not just the local FS). A missing or empty table (e.g. left
    * by a previous failed attempt before any parquet landed) has none. */
  private def storedBuckets(dir: String)(spark: SparkSession): Set[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$BucketCol="
    if (!fs.exists(path)) Set.empty
    else fs.listStatus(path).iterator.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        st.getPath.getName.stripPrefix(prefix)
    }.toSet
  }
}
