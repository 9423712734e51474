package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, lit, substring}
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

    // one file per trigger that carried rows, every one at the table root
    val triggers = Seq(q1, q2).map(_.recentProgress.count(_.numInputRows > 0)).sum
    assert(triggers === 2)
    assert(dataFiles(sigDir).length === triggers)
    assert(subdirs(sigDir).isEmpty)
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

  test("upsert reads the table root once and appends one file") {
    val s = spark
    import s.implicits._
    val sigDir = Files.createTempDirectory("graft-upsert-").toString + "/sigs"
    // 64 rows under 64 pk prefixes, which the old layout spread over 64
    // bucket directories
    val batch = (0 until 64).map(i =>
      (f"$i%02x" + "a" * 62, i.toLong, s"0xaddr$i", "s" * 64, s"raw/p0/$i.json"))
      .toDF("pk", "key_id", "address", "signature", "s3_path")
    SigningStream.upsert(batch, sigDir)(s)
    assert(dataFiles(sigDir).length === 1)
    assert(subdirs(sigDir).isEmpty)

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

    // a replay of all 64 rows: the root is listed on the driver, not by a
    // listing job, and the anti-join drops every row
    val cores = s.sparkContext.defaultParallelism
    val replay = jobsOf(SigningStream.upsert(batch, sigDir)(s))
    assert(!replay.exists(_._1.startsWith("Listing leaf files")), s"listing job: $replay")
    assert(replay.forall(_._2 <= cores), s"job wider than $cores cores: $replay")
    assert(table(sigDir).count() === 64)
    assert(dataFiles(sigDir).length <= 2) // at most one file per upsert

    // one new row and one replayed row: only the new one is appended
    val mixed = Seq(("00" + "b" * 62, 64L, "0xaddr64", "s" * 64, "raw/p0/64.json"),
      ("00" + "a" * 62, 0L, "0xaddr0", "s" * 64, "raw/p1/0.json"))
      .toDF("pk", "key_id", "address", "signature", "s3_path")
    SigningStream.upsert(mixed, sigDir)(s)
    assert(table(sigDir).count() === 65)
    assert(table(sigDir).select("pk").distinct().count() === 65)
    assert(dataFiles(sigDir).length <= 3)
  }

  /** Signed rows with the given pks and lake paths. */
  private def signed(rows: Seq[(String, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("pk", "s3_path").select($"pk", lit(1L).as("key_id"),
      lit("0xaddr").as("address"), lit("s" * 64).as("signature"), $"s3_path")
  }

  /** `rows` written in the layout before the flat one: one `pk_bucket=<xx>`
    * directory per pk prefix, every file named alike (one writer task). */
  private def writeBucketed(rows: Seq[(String, String)], dir: String): Unit =
    signed(rows).withColumn("pk_bucket", substring(col("pk"), 1, 2))
      .repartition(1).write.partitionBy("pk_bucket").parquet(dir)

  private val BucketedRows = Seq(
    ("07" + "a" * 62, "raw/p0/old-1.json"), ("07" + "d" * 62, "raw/p0/old-4.json"),
    ("42" + "b" * 62, "raw/p1/old-2.json"), ("9f" + "c" * 62, "raw/p2/old-3.json"))

  /** The pks of the table at `dir`, sorted, a repeated pk repeated. */
  private def pks(dir: String): Seq[String] = {
    val s = spark
    import s.implicits._
    table(dir).select($"pk").as[String].collect().toSeq.sorted
  }

  test("bucketed signatures table is migrated to the flat layout") {
    val s = spark
    import s.implicits._
    val sigDir = Files.createTempDirectory("graft-bucketed-").toString + "/sigs"
    writeBucketed(BucketedRows, sigDir)
    assert(subdirs(sigDir).length === 3)
    // a batch: a replay of one stored pk and one new record
    val batch = Seq(
      ("07" + "a" * 62, 1L, "0xaddr1", "s" * 64, "raw/p0/replay.json"),
      ("99" + "c" * 62, 3L, "0xaddr3", "u" * 64, "raw/p2/new-3.json"),
    ).toDF("pk", "key_id", "address", "signature", "s3_path")
    SigningStream.upsert(batch, sigDir)(s)

    // every file at the root, the bucket directories gone
    assert(subdirs(sigDir).isEmpty)
    assert(dataFiles(sigDir).length === 4) // 3 moved + 1 appended
    assert(pks(sigDir) === (BucketedRows.map(_._1) :+ "99" + "c" * 62).sorted)
    // the stored row, not the replay, survived
    assert(table(sigDir).filter($"pk".startsWith("07a")).select("s3_path")
      .as[String].collect().toSeq === Seq("raw/p0/old-1.json"))
  }

  test("migration resumes after a crash without losing or duplicating rows") {
    val want = BucketedRows.map(_._1).sorted
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString + "/sigs"

    // a crash mid-flatten: bucket 07's file already moved to the root as
    // 07-<file>, the other buckets not yet
    val dirA = tmp("graft-flat-crash-")
    writeBucketed(BucketedRows, dirA)
    val fs = fsOf(dirA)
    for (f <- dataFiles(s"$dirA/pk_bucket=07"))
      assert(fs.rename(new Path(f), new Path(dirA, s"07-${new Path(f).getName}")))
    fs.delete(new Path(dirA, "pk_bucket=07"), true)
    SigningStream.migrateLegacyLayout(dirA)(spark)
    assert(subdirs(dirA).isEmpty)
    assert(pks(dirA) === want)
    SigningStream.migrateLegacyLayout(dirA)(spark) // a no-op on a flat table
    assert(pks(dirA) === want)

    // leftovers of the older flat→bucketed migration, first window: the
    // flat files moved to <dir>.migrating-src, the bucketed rewrite in
    // <dir>.migrating-out unfinished (no _SUCCESS)
    val dirB = tmp("graft-legacy-crash-")
    signed(BucketedRows).write.parquet(s"$dirB.migrating-src")
    writeBucketed(BucketedRows.take(1), s"$dirB.migrating-out")
    fs.delete(new Path(s"$dirB.migrating-out", "_SUCCESS"), false)
    SigningStream.migrateLegacyLayout(dirB)(spark)
    assert(pks(dirB) === want)

    // second window: the rewrite complete, bucket 07 already moved into
    // the table, the rest still in <dir>.migrating-out, and
    // <dir>.migrating-src still holding every row
    val dirC = tmp("graft-legacy-crash-")
    signed(BucketedRows).write.parquet(s"$dirC.migrating-src")
    writeBucketed(BucketedRows, s"$dirC.migrating-out")
    fs.mkdirs(new Path(dirC))
    assert(fs.rename(new Path(s"$dirC.migrating-out", "pk_bucket=07"),
      new Path(dirC, "pk_bucket=07")))
    SigningStream.migrateLegacyLayout(dirC)(spark)
    assert(subdirs(dirC).isEmpty)
    assert(pks(dirC) === want)

    for (d <- Seq(dirB, dirC); leftover <- Seq("src", "out"))
      assert(!fs.exists(new Path(s"$d.migrating-$leftover")))
  }

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The data files directly under `dir`, as path strings. */
  private def dataFiles(dir: String): Seq[String] =
    fsOf(dir).listStatus(new Path(dir)).toSeq.collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") => st.getPath.toString
    }

  /** The names of the directories directly under `dir`. */
  private def subdirs(dir: String): Seq[String] =
    fsOf(dir).listStatus(new Path(dir)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)

  private val LakeSchema = "payload string, ts timestamp, s3_path string"

  /** The table's rows, read with its explicit schema. */
  private def table(sigDir: String) = spark.read.schema(
    org.apache.spark.sql.types.StructType.fromDDL(
      "pk string, key_id bigint, address string, signature string, " +
        "s3_path string")).parquet(sigDir)

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
