package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

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
  * flat signatures table (C3/A6, the DynamoDB `PutItem` analog).
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
    * to the flat signatures table as one file, with no listing and no read
    * of the table. Per trigger that is O(batch) state lookups and one file
    * written, whatever the table's size: signing, the keyring join and the
    * lookups run across the state partitions, and one task encodes the
    * survivors. A trigger whose rows are all known writes an empty file.
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
    migrateLegacyLayout(sigDir)(spark)
    val resumed = hasCommits(checkpoint)(spark)
    val deduped =
      if (resumed || !exists(sigDir)(spark))
        keyed.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(firstNew)
      else {
        // an initial state with a repeated key fails the query, and the
        // table's pks are unique only while one stream at a time writes it
        val seed = spark.read.schema(signRecords(lake, keyring, keyField).schema)
          .parquet(sigDir).select("pk")
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
        else append(batch, sigDir)
      }
      .start()
  }

  /** Whether the stream checkpointed at `checkpoint` has committed a batch:
    * its `commits` directory holds a file named by a batch id. */
  private def hasCommits(checkpoint: String)(spark: SparkSession): Boolean = {
    val commits = new Path(checkpoint, "commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(commits) && fs.listStatus(commits).exists { st =>
      val n = st.getPath.getName
      st.isFile && n.nonEmpty && n.forall(_.isDigit)
    }
  }

  private def exists(dir: String)(spark: SparkSession): Boolean = {
    val path = new Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Append `rows` to the table root as one parquet file. */
  private def append(rows: DataFrame, sigDir: String): Unit =
    rows.repartition(1).write.mode(SaveMode.Append).parquet(sigDir)

  /** C3: left-anti against existing PKs, then append — "if the same
    * transaction is seen again, the signature is not duplicated". The
    * stream sends only the first batch of a resumed run here (see [[run]]).
    *
    * The anti-join reads the pks of the whole table, its root as one path
    * (O(table) once), and the survivors land as one file like any
    * trigger's. Any older layout is migrated first.
    */
  def upsert(batch: DataFrame, sigDir: String)(spark: SparkSession): Unit = {
    // deterministic survivor per pk (batch q22 uses first-by-event_id; the
    // stream has no event id, so first-by-s3_path — dropDuplicates alone
    // would keep an arbitrary row per run)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk")).orderBy(col("s3_path"))
    val fresh = batch
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    migrateLegacyLayout(sigDir)(spark)
    append(
      if (!exists(sigDir)(spark)) fresh
      else fresh.join(spark.read.schema(fresh.schema).parquet(sigDir).select("pk"),
        Seq("pk"), "left_anti"),
      sigDir)
  }

  /** Moves a signatures table written in an older layout to the flat one,
    * where every data file sits at the table root:
    *  - a `pk_bucket=<xx>/<file>` directory per pk prefix becomes
    *    `<root>/<xx>-<file>` (file names repeat across bucket directories),
    *    and each emptied directory is deleted;
    *  - leftovers of the older flat→bucketed migration finish flat: once
    *    its rewrite `<dir>.migrating-out` was complete (`_SUCCESS`), the
    *    files it has not yet moved into the table are flattened in the same
    *    way and its source copy `<dir>.migrating-src` is dropped; before
    *    that, the partial rewrite is dropped and the source files move back
    *    to the root.
    * Each rename is atomic and nothing is deleted while it holds the only
    * copy of a row, so after a crash every row is in exactly one place and
    * the next call finishes the job. A rename the file system refuses
    * (`rename` returns false, as Hadoop file systems report most failures)
    * throws before any delete. Every listing and rename goes through the
    * root's own FileSystem. */
  private[streaming] def migrateLegacyLayout(sigDir: String)(
      spark: SparkSession): Unit = {
    val root = new Path(sigDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def move(f: Path, to: Path): Unit =
      if (!fs.rename(f, to))
        throw new java.io.IOException(s"migration rename failed: $f -> $to")
    def list(dir: Path) =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty
    def dataFiles(dir: Path) = list(dir).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") => st.getPath
    }
    def flatten(dir: Path): Unit =
      for (st <- list(dir) if st.isDirectory && st.getPath.getName.startsWith("pk_bucket=")) {
        val prefix = st.getPath.getName.stripPrefix("pk_bucket=")
        for (f <- dataFiles(st.getPath)) move(f, new Path(root, s"$prefix-${f.getName}"))
        fs.delete(st.getPath, true)
      }
    val src = new Path(sigDir + ".migrating-src")
    val out = new Path(sigDir + ".migrating-out")
    if (fs.exists(src) || fs.exists(out)) {
      fs.mkdirs(root)
      if (fs.exists(new Path(out, "_SUCCESS"))) flatten(out)
      else {
        fs.delete(out, true)
        for (f <- dataFiles(src)) move(f, new Path(root, f.getName))
      }
      fs.delete(src, true)
      fs.delete(out, true)
    }
    flatten(root)
  }
}
