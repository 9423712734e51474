package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class SigningStreamSpec extends SparkSpec {

  private def keyring = graft.ops.Pipeline.keyring(spark)

  test("end-to-end: lake files → dedup → sign → idempotent signatures table") {
    val s = spark
    implicit val sp = s
    import s.implicits._
    val root = Files.createTempDirectory("graft-sign-").toString
    val lakeDir = s"$root/lake"
    val sigDir = s"$root/sigs"
    val ts0 = Timestamp.valueOf("2024-01-05 10:00:00")

    // batch 1: two records, one duplicated within the batch
    Seq(
      ("""{"id": "tx-1", "v": 1}""", ts0, "raw/p0/obj-1.json"),
      ("""{"id": "tx-1", "v": 1}""", ts0, "raw/p0/obj-1b.json"),
      ("""{"id": "tx-2", "v": 2}""", ts0, "raw/p1/obj-2.json"),
    ).toDF("payload", "ts", "s3_path").write.parquet(lakeDir)

    val lake = s.readStream.schema("payload string, ts timestamp, s3_path string")
      .parquet(lakeDir)
    val q1 = SigningStream.run(lake, keyring, sigDir, s"$root/ckpt",
      Trigger.AvailableNow())
    q1.awaitTermination(60000)

    val sigs1 = s.read.parquet(sigDir)
    assert(sigs1.count() === 2) // in-batch duplicate removed
    assert(sigs1.select("pk").distinct().count() === 2)

    // batch 2: replay of tx-2 (new file, same content) + a new record
    Seq(
      ("""{"id": "tx-2", "v": 2}""", ts0, "raw/p1/obj-2-replay.json"),
      ("""{"id": "tx-3", "v": 3}""", ts0, "raw/p2/obj-3.json"),
    ).toDF("payload", "ts", "s3_path").write.mode("append").parquet(lakeDir)
    val q2 = SigningStream.run(
      s.readStream.schema("payload string, ts timestamp, s3_path string").parquet(lakeDir),
      keyring, sigDir, s"$root/ckpt", Trigger.AvailableNow())
    q2.awaitTermination(60000)

    val sigs2 = s.read.parquet(sigDir)
    // tx-2 replay was suppressed by the anti-join upsert (C3 idempotency)
    assert(sigs2.count() === 3)
    assert(sigs2.select("pk").distinct().count() === 3)
    // signatures are the deterministic surrogate: sha2(priv || '|' || payload)
    val row = sigs2.filter($"s3_path" === "raw/p2/obj-3.json").head
    assert(row.getAs[String]("signature").length === 64)

    // the table is Hive-partitioned on the pk prefix, and the per-batch
    // anti-join probe prunes to just the buckets present in the batch:
    // reading one bucket must touch ONLY that bucket's directory
    val buckets = sigs2.select(SigningStream.BucketCol).distinct()
      .collect().map(_.getString(0)).sorted
    assert(buckets.forall(_.length == 2))
    assert(buckets.length >= 2) // 3 random sha-256 prefixes collide w.p. ~1e-4
    val one = buckets.head
    val sigSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "pk string, key_id bigint, address string, signature string, " +
        "s3_path string, pk_bucket string")
    val pruned = SigningStream.existingPks(sigDir, Seq(one), sigSchema)(s)
    pruned.collect() // populate scan metrics
    // Dataset.inputFiles ignores pushed filters — the proof of directory
    // pruning is the scan node's numFiles metric after execution
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val totalFiles = s.read.parquet(sigDir).inputFiles.length
    assert(totalFiles >= buckets.length)
    assert(scan.metrics("numFiles").value < totalFiles,
      s"bucket read not pruned: ${scan.metrics("numFiles").value} of $totalFiles files")
  }

  test("signature seam: the real ECDSA signer plugs into signRecords and verifies") {
    val s = spark
    import s.implicits._
    import graft.functions.SignFns
    val records = Seq(
      ("""{"id": "tx-a", "v": 1}""", "raw/p0/a.json"),
      ("""{"id": "tx-b", "v": 2}""", "raw/p1/b.json"),
      ("""{"id": "tx-c", "v": 3}""", "raw/p2/c.json"),
    ).toDF("payload", "s3_path")
    val signed = SigningStream.signRecords(records, keyring,
      signer = SigningStream.ecdsaSigner)
    // rejoin the keyring to get each row's key, derive the public point,
    // and cryptographically verify every emitted signature
    val ring = keyring.withColumn("pubkey", SignFns.pub($"priv"))
      .select($"key_id", $"pubkey._1".as("qx"), $"pubkey._2".as("qy"))
    val checked = signed
      .join(records, "s3_path")
      .join(ring, "key_id")
      .select(SignFns.verify($"qx", $"qy", $"payload", $"signature").as("valid"))
      .collect()
    assert(checked.length === 3)
    assert(checked.forall(_.getBoolean(0)))
    // the surrogate default is untouched: same records, sha2 signatures
    val sur = SigningStream.signRecords(records, keyring).collect()
    assert(sur.forall(_.getAs[String]("signature").matches("[0-9a-f]{64}")))
  }

  test("upsert lists only touched buckets, in jobs no wider than the cores") {
    val s = spark
    import s.implicits._
    val sigDir = Files.createTempDirectory("graft-wide-").toString + "/sigs"
    // 64 rows in 64 buckets: past Spark's 32-path parallel-listing threshold
    val batch = (0 until 64).map(i =>
      (f"$i%02x" + "a" * 62, i.toLong, s"0xaddr$i", "s" * 64, s"raw/p0/$i.json"))
      .toDF("pk", "key_id", "address", "signature", "s3_path")
    SigningStream.upsert(batch, sigDir)(s)
    val bucketDirs = new java.io.File(sigDir).listFiles()
      .count(_.getName.startsWith(SigningStream.BucketCol + "="))
    assert(bucketDirs === 64)

    // (description, widest stage) of every job one upsert starts
    def jobsOf(upsert: => Unit): Seq[(String, Int)] = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add((Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""), e.stageInfos.map(_.numTasks).max))
      }
      s.sparkContext.addSparkListener(listener)
      try {
        upsert
        org.apache.spark.ListenerBusAccess.flush(s.sparkContext)
      } finally s.sparkContext.removeSparkListener(listener)
      jobs.toArray.toSeq.map(_.asInstanceOf[(String, Int)])
    }
    def isListing(job: (String, Int)) = job._1.startsWith("Listing leaf files")

    // replaying all 64 buckets: the listing job is one task per core
    val cores = s.sparkContext.defaultParallelism
    val replay = jobsOf(SigningStream.upsert(batch, sigDir)(s))
    assert(replay.exists(isListing))
    assert(replay.forall(_._2 <= cores), s"job wider than $cores cores: $replay")
    assert(s.read.parquet(sigDir).count() === 64) // the replay added no row

    // one row into one stored bucket: that directory alone is listed, on
    // the driver, not all 64 through a listing job
    val one = Seq(("00" + "b" * 62, 64L, "0xaddr64", "s" * 64, "raw/p0/64.json"))
      .toDF("pk", "key_id", "address", "signature", "s3_path")
    val single = jobsOf(SigningStream.upsert(one, sigDir)(s))
    assert(!single.exists(isListing), s"whole table listed: $single")
    assert(s.read.parquet(sigDir).count() === 65)
  }

  test("legacy flat signatures table is migrated to the bucketed layout") {
    val s = spark
    import s.implicits._
    val sigDir = Files.createTempDirectory("graft-legacy-").toString + "/sigs"
    // a pre-pk_bucket table: flat parquet files at the root, digit-only pk
    // prefixes (the partition-type-inference trap: 07/42 would infer INT)
    val legacy = Seq(
      ("07" + "a" * 62, 1L, "0xaddr1", "s" * 64, "raw/p0/old-1.json"),
      ("42" + "b" * 62, 2L, "0xaddr2", "t" * 64, "raw/p1/old-2.json"),
    ).toDF("pk", "key_id", "address", "signature", "s3_path")
    legacy.write.parquet(sigDir)
    val fs = new org.apache.hadoop.fs.Path(sigDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def rootFlatFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(sigDir))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))

    assert(rootFlatFiles().nonEmpty)
    // batch: a replay of one legacy pk + one new record
    val batch = Seq(
      ("07" + "a" * 62, 1L, "0xaddr1", "s" * 64, "raw/p0/replay.json"),
      ("99" + "c" * 62, 3L, "0xaddr3", "u" * 64, "raw/p2/new-3.json"),
    ).toDF("pk", "key_id", "address", "signature", "s3_path")
    SigningStream.upsert(batch, sigDir)(s)

    // migration: no flat files remain, everything lives in pk_bucket= dirs
    assert(rootFlatFiles().isEmpty)
    // explicit schema: with inference the all-digit buckets (07/42/99) would
    // come back as INTs and "07" would silently become 7
    val after = s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
      "pk string, key_id bigint, address string, signature string, " +
        "s3_path string, pk_bucket string")).parquet(sigDir)
    assert(after.count() === 3) // replayed legacy pk suppressed by anti-join
    assert(after.filter($"pk".startsWith("07")).count() === 1)
    assert(after.filter($"pk".startsWith("07")).select("s3_path").head.getString(0)
      === "raw/p0/old-1.json") // the legacy row, not the replay, survived
    val bucketVals = after.select(SigningStream.BucketCol).distinct()
      .as[String].collect().sorted
    assert(bucketVals.toSeq === Seq("07", "42", "99"))
  }

  test("migration resumes after a crash without losing or duplicating rows") {
    val s = spark
    import s.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "pk string, key_id bigint, address string, signature string, " +
        "s3_path string, pk_bucket string")
    def freshLegacy(): String = {
      val dir = Files.createTempDirectory("graft-legacy-crash-").toString + "/sigs"
      Seq(
        ("07" + "a" * 62, 1L, "0xaddr1", "s" * 64, "raw/p0/old-1.json"),
        ("42" + "b" * 62, 2L, "0xaddr2", "t" * 64, "raw/p1/old-2.json"),
      ).toDF("pk", "key_id", "address", "signature", "s3_path")
        .write.parquet(dir)
      dir
    }
    def rows(dir: String) =
      s.read.schema(schema).parquet(dir).select($"pk").as[String].collect().toSet

    // Crash window A: flat files already moved to the src staging dir,
    // rewrite not yet run (simulated by doing step 1 by hand).
    val dirA = freshLegacy()
    val fsA = new org.apache.hadoop.fs.Path(dirA)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val srcA = new org.apache.hadoop.fs.Path(dirA + ".migrating-src")
    fsA.mkdirs(srcA)
    for (f <- fsA.listStatus(new org.apache.hadoop.fs.Path(dirA))
        if f.isFile && !f.getPath.getName.startsWith("_"))
      assert(fsA.rename(f.getPath,
        new org.apache.hadoop.fs.Path(srcA, f.getPath.getName)))
    SigningStream.migrateLegacyLayout(dirA, schema)(s) // resume
    assert(rows(dirA).size === 2)
    assert(!fsA.exists(srcA))

    // Crash window B: rewrite completed (out dir with _SUCCESS), src still
    // present, buckets not yet moved — a resume must move them exactly once.
    val dirB = freshLegacy()
    SigningStream.migrateLegacyLayout(dirB, schema)(s) // full migration
    val before = rows(dirB)
    SigningStream.migrateLegacyLayout(dirB, schema)(s) // no-op re-run
    assert(rows(dirB) === before, "re-running migration changed the table")
  }

  private val LakeSchema = "payload string, ts timestamp, s3_path string"

  /** The table's rows, read with its explicit schema. */
  private def table(sigDir: String) = spark.read.schema(
    org.apache.spark.sql.types.StructType.fromDDL(
      "pk string, key_id bigint, address string, signature string, " +
        "s3_path string, pk_bucket string")).parquet(sigDir)

  /** Files each scan of `dir` in the stream's latest batch read. Spark
    * keeps an initial state's plan as a child of the state operator in
    * every batch but executes it in batch 0 only, so a later batch's scan
    * reads none. */
  private def filesRead(q: org.apache.spark.sql.streaming.StreamingQuery, dir: String) =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
          f.metrics("numFiles").value
      }

  test("a fresh checkpoint over an existing table seeds the pk index from it, once") {
    val s = spark
    implicit val sp = s
    import s.implicits._
    val root = Files.createTempDirectory("graft-sign-seed-").toString
    val sigDir = s"$root/sigs"
    val ts0 = Timestamp.valueOf("2024-01-05 10:00:00")
    def land(dir: String, rows: (String, String)*): Unit =
      rows.map { case (id, path) => (s"""{"id": "$id"}""", ts0, path) }
        .toDF("payload", "ts", "s3_path").coalesce(1)
        .write.mode("append").parquet(dir)
    // a first stream signs x and y
    land(s"$root/live", "x" -> "raw/p0/x.json", "y" -> "raw/p0/y.json")
    SigningStream.run(s.readStream.schema(LakeSchema).parquet(s"$root/live"),
      keyring, sigDir, s"$root/ckpt_live", Trigger.AvailableNow()).awaitTermination(60000)
    assert(table(sigDir).count() === 2)

    // a second stream on a new checkpoint drains a backlog into the same
    // table, one file per batch; its first batch repeats x
    land(s"$root/backlog", "x" -> "raw/p1/x.json", "z" -> "raw/p1/z.json")
    val q = SigningStream.run(s.readStream.schema(LakeSchema).parquet(s"$root/backlog"),
      keyring, sigDir, s"$root/ckpt_drain", Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      // batch 0 reads the table's pks as the index's initial state
      assert(filesRead(q, sigDir).sum > 0)
      for (batch <- Seq(Seq("z" -> "raw/p2/z.json", "w" -> "raw/p2/w.json"),
          Seq("x" -> "raw/p3/x.json", "w" -> "raw/p3/w.json", "v" -> "raw/p3/v.json"))) {
        land(s"$root/backlog", batch: _*)
        q.processAllAvailable()
        val read = filesRead(q, sigDir)
        assert(read.forall(_ == 0), s"a later batch read $read files of the table")
      }
    } finally q.stop()
    assert(q.recentProgress.map(_.batchId).max === 2L)
    val sigs = table(sigDir)
    assert(sigs.count() === 5)
    assert(sigs.select("pk").distinct().count() === 5)
    // the repeated x kept its first signing, by the first stream
    assert(sigs.filter($"s3_path".endsWith("x.json")).select("s3_path")
      .as[String].collect().toSeq === Seq("raw/p0/x.json"))
  }

  test("a batch replayed after its rows landed but before its commit adds no row") {
    val s = spark
    implicit val sp = s
    import s.implicits._
    val root = Files.createTempDirectory("graft-sign-crash-").toString
    val (lake, sigDir, ckpt) = (s"$root/lake", s"$root/sigs", s"$root/ckpt")
    val ts0 = Timestamp.valueOf("2024-01-05 10:00:00")
    def land(ids: String*): Unit =
      ids.map(id => (s"""{"id": "$id"}""", ts0, s"raw/p0/$id.json"))
        .toDF("payload", "ts", "s3_path").coalesce(1)
        .write.mode("append").parquet(lake)
    def drain(): Unit = {
      val q = SigningStream.run(s.readStream.schema(LakeSchema).parquet(lake),
        keyring, sigDir, ckpt, Trigger.ProcessingTime(0))
      try q.processAllAvailable() finally q.stop()
    }
    land("a", "b")
    drain()
    land("c", "d")
    drain() // batch 1 resumes the checkpoint
    assert(table(sigDir).count() === 4)
    // a crash between batch 1's sink write and its commit: its rows are in
    // the table, its commit is not
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    for (f <- Seq("commits/1", "commits/.1.crc"))
      fs.delete(new org.apache.hadoop.fs.Path(ckpt, f), false)
    land("e")
    drain() // replays batch 1, then signs e in batch 2
    val sigs = table(sigDir)
    assert(sigs.select("pk").distinct().count() === 5)
    assert(sigs.count() === 5, "the replayed batch duplicated its rows")
  }

  test("a payload repeated hours later in event time is suppressed by state") {
    val s = spark
    implicit val sp = s
    import s.implicits._
    val root = Files.createTempDirectory("graft-sign-late-").toString
    val (lake, sigDir) = (s"$root/lake", s"$root/sigs")
    val ts0 = Timestamp.valueOf("2024-01-05 10:00:00")
    val later = new Timestamp(ts0.getTime + 5 * 3600 * 1000L)
    def land(id: String, ts: Timestamp, path: String): Unit =
      Seq((s"""{"id": "$id"}""", ts, path)).toDF("payload", "ts", "s3_path")
        .write.mode("append").parquet(lake)
    land("x", ts0, "raw/p0/x.json")
    val q = SigningStream.run(s.readStream.schema(LakeSchema).parquet(lake),
      keyring, sigDir, s"$root/ckpt", Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      // y moves event time 5 hours on: a 10-minute watermark would now
      // have evicted x
      land("y", later, "raw/p0/y.json")
      q.processAllAvailable()
      land("x", later, "raw/p1/x.json")
      q.processAllAvailable()
    } finally q.stop()
    val last = q.recentProgress.filter(_.batchId == 2L)
    assert(last.nonEmpty)
    // the repeat reached the index, which held x: no state row changed,
    // and the plain append of batch 2 wrote nothing
    assert(last.head.stateOperators.head.numRowsTotal === 2L)
    assert(last.head.stateOperators.head.numRowsUpdated === 0L)
    val sigs = table(sigDir)
    assert(sigs.count() === 2)
    assert(sigs.filter($"s3_path" === "raw/p1/x.json").count() === 0)
  }
}
