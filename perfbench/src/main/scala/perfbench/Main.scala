package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

import graft.streaming.{IngestStream, SigningStream}

/** The engine side of one benchmark run; perfbench/run.py launches it and
  * turns the raw `result.json` it writes into the run's metrics.
  *
  * usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <dataDir> <workDir> <cores> <minSamples>
  */
object Main {

  /** corpus_mix: a fixed subset of the Dedup and Similarity queries. A run
    * must fit the benchmark's time budget, while a warm pass over all 47
    * Dedup, Similarity and Retrieval queries takes about 50 s on 4 cores;
    * the subset keeps the custom Catalyst expressions, the session caches
    * and an iterative connected-components loop (README.md lists what each
    * query covers). */
  val CorpusMix: Seq[String] = Seq(
    "q50_dedup_exact", "q52_minhash_lsh", "q53_simhash", "q54_cosine_neardup",
    "q62_dedup_corpus", "q65_simhash_banded", "q78_bloom_delta", "q91_simhash64",
    "q60_dup_clusters", "q55_ann_brute", "q56_ann_lsh", "q59_ann_ivf",
    "q73_ann_pq", "q86_random_projection", "q119_embedding_sanity")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, coresS, minSamplesS) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val (seed, seconds, cores) = (seedS.toLong, secondsS.toInt, coresS.toInt)
    val traced = traceS == "1"
    val spark = graft.GraftSession.configure(
        SparkSession.builder().master(s"local[$cores]"), cores.toString)
      // the local configuration graft.Bench measured as fastest at this
      // data scale: 8 shuffle partitions, adaptive execution off
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sinkDir = s"$work/sigs"
    val trace = new Trace(spark, if (workload == "sign_stream") Some(sinkDir) else None)
    if (traced) trace.register()
    val result = workload match {
      case "sign_stream" =>
        Sign.run(spark, work, seed, seconds, trace, traced, jvmStart)
      case "corpus_mix" =>
        Mix.run(spark, CorpusMix, data, work, seed, seconds, trace, traced,
          jvmStart, minSamplesS.toInt)
    }
    val out = result ++ Map("cores" -> cores,
      "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"))
    if (traced) {
      trace.flush()
      Files.writeString(Paths.get(s"$work/trace.json"), trace.json())
    }
    Files.writeString(Paths.get(s"$work/result.json"), Json(out))
    spark.stop()
  }
}

/** Closed loop, one client: passes over the mix in a seed-shuffled order,
  * each result written to the `noop` sink. */
object Mix {
  def run(spark: SparkSession, names: Seq[String], data: String, work: String,
      seed: Long, seconds: Int, trace: Trace, traced: Boolean, jvmStart: Long,
      minSamples: Int): Map[String, Any] = {
    val fns = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val rng = new scala.util.Random(seed)
    // Untimed warm pass: fills the session caches, and its outputs are the
    // ones checked against the DuckDB oracle (once per run).
    val warmErrors = scala.collection.mutable.Map.empty[String, String]
    val warmMs = scala.collection.mutable.Map.empty[String, Double]
    for (name <- rng.shuffle(names)) {
      val w0 = System.nanoTime()
      try fns(name)(spark, data).write.mode("overwrite").parquet(s"$work/out/$name")
      catch { case e: Throwable => warmErrors(name) = String.valueOf(e.getMessage) }
      warmMs(name) = (System.nanoTime() - w0) / 1e6
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val execs = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Whole passes only, so every query weighs the same in every run.
    // A traced run alternates untraced and traced passes and ends on a
    // traced one; the pair gives the tracing overhead.
    def more = elapsed < seconds || execs.size < minSamples ||
      (traced && passes.size % 2 == 1)
    while (more) {
      val p = passes.size
      val tracedPass = traced && p % 2 == 1
      trace.on = tracedPass
      val order = rng.shuffle(names)
      val ps = System.nanoTime()
      for (name <- order) {
        val q0 = System.nanoTime()
        val ok = try {
          trace.span("query", label = name) { qid =>
            val df = trace.span("build", qid, name)(_ => fns(name)(spark, data))
            trace.phases(df.queryExecution)
            trace.span("execute", qid, name) { _ =>
              df.write.format("noop").mode("overwrite").save()
            }
          }
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          false
        }
        execs += Map("q" -> name, "pass" -> p, "traced" -> tracedPass,
          "ms" -> (System.nanoTime() - q0) / 1e6, "ok" -> ok)
      }
      val passMs = (System.nanoTime() - ps) / 1e6
      if (tracedPass) trace.flush()
      trace.on = false
      passes += Map("pass" -> p, "traced" -> tracedPass, "ms" -> passMs,
        "n" -> order.size)
    }
    val base = Map[String, Any]("setup_s" -> setupS, "executions" -> execs,
      "passes" -> passes, "measured_s" -> elapsed,
      "oracle_sql" -> names.map(n => n -> oracles.getOrElse(n, null)).toMap,
      "warm_errors" -> warmErrors.toMap, "warm_ms" -> warmMs.toMap)
    if (!traced) base
    else {
      // per-layer figures of the traced passes, per query execution
      val spans = trace.spanList
      val queries = spans.filter(_.name == "query")
      val n = queries.size.toDouble
      base + ("layers" -> (trace.perOp(n, spark.sparkContext.defaultParallelism) ++ Map(
        "ops.build_ms" -> spans.filter(_.name == "build").map(s => s.end - s.start).sum / n,
        "driver.outside_job_ms" -> trace.outsideJobMs(queries) / n)))
    }
  }
}

/** The reference's EP1 -> EP2 path, as in graft.StreamBench.measure:
  * IngestStream.partitionRecords feeds SigningStream.run. An open-loop
  * phase signs files published by perfbench/gen.py on a fixed schedule;
  * a second phase drains a staged backlog with AvailableNow. */
object Sign {
  /** Trigger interval of the open loop. A trigger costs about 1.5-2 s here
    * whatever it carries, so with back-to-back triggers (interval 0) a
    * file's latency is about 1.5 triggers and moves one for one with every
    * slowdown of this shared host. With a fixed interval longer than a
    * trigger, a file waits for the next tick (half an interval at the
    * median, set by the schedule alone) and then for one trigger: the
    * per-trigger cost still shows in full, in milliseconds, and the
    * run-to-run spread shrinks (README.md has the measurements). */
  val IntervalMs = 3000L

  def start(spark: SparkSession, keyring: DataFrame, src: String, sigs: String,
      ckpt: String, trigger: Trigger, maxFiles: Int = Int.MaxValue): StreamingQuery = {
    val stream = spark.readStream.option("maxFilesPerTrigger", maxFiles.toLong)
      .schema("recordId string, data string, ts timestamp").parquet(src)
    val partitioned = IngestStream.partitionRecords(stream, 5, keyField = "k")
      .filter(col("result") === "Ok")
      .select(col("payload"), col("ts"),
        concat(lit("raw/"), col("bucket_partition"), lit("/obj-"), col("recordId")).as("s3_path"))
    SigningStream.run(partitioned, keyring, sigs, ckpt, trigger, keyField = "k")(spark)
  }

  def run(spark: SparkSession, work: String, seed: Long, seconds: Int,
      trace: Trace, traced: Boolean, jvmStart: Long): Map[String, Any] = {
    val keyring = graft.ops.Pipeline.keyring(spark)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()
    val names = new java.util.concurrent.ConcurrentHashMap[String, String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.id.toString -> e.progress)
    })
    def named(name: String, q: StreamingQuery): StreamingQuery = {
      names.put(q.id.toString, name); q
    }
    // untimed warm-up through the same composition, on its own sink
    val warm = named("warm", start(spark, keyring, s"$work/warm", s"$work/warm_sigs",
      s"$work/ckpt_warm", Trigger.ProcessingTime(0)))
    warm.processAllAvailable()
    warm.stop()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // Open loop. The generator starts its schedule 200 ms after `ready`.
    val live = named("live", start(spark, keyring, s"$work/incoming", s"$work/sigs",
      s"$work/ckpt_live", Trigger.ProcessingTime(IntervalMs)))
    val readyMs = System.currentTimeMillis()
    Files.writeString(Paths.get(s"$work/ready"), readyMs.toString)
    // A traced run traces the second half of the open loop only; the
    // first half is its untraced comparison.
    val toggleMs = readyMs + 200 + seconds * 500L
    val toggler = new Thread(() => {
      val d = toggleMs - System.currentTimeMillis()
      if (d > 0) Thread.sleep(d)
      trace.on = traced
    })
    toggler.setDaemon(true)
    toggler.start()
    val genDeadline = System.currentTimeMillis() + (seconds + 60) * 1000L
    while (!Files.exists(Paths.get(s"$work/gen.json")) &&
        System.currentTimeMillis() < genDeadline) Thread.sleep(20)
    // catch up on what was published, within a bounded time
    val caughtUp = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watchdog = new Thread(() => {
      try Thread.sleep(60000) catch { case _: InterruptedException => () }
      if (!caughtUp.get) live.stop()
    })
    watchdog.setDaemon(true)
    watchdog.start()
    // processAllAvailable also returns when the watchdog stopped the query
    caughtUp.set(try { live.processAllAvailable(); live.isActive }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] catch-up: ${e.getMessage}"); false })
    watchdog.interrupt()
    live.stop()
    toggler.join()
    trace.flush()
    trace.on = false

    // Backlog drain, one staged file per trigger so that the rate averages
    // several triggers. A traced run drains an identical backlog twice,
    // into identical copies of the sink: untraced, then traced.
    val backlogRows = spark.read.parquet(s"$work/backlog0").count()
    if (traced) org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$work/sigs"), new java.io.File(s"$work/sigs_copy"))
    def drain(i: Int, sigs: String): Map[String, Any] = {
      trace.on = traced && i == 1
      val t0 = System.nanoTime()
      val q = named(s"drain$i", start(spark, keyring, s"$work/backlog$i", sigs,
        s"$work/ckpt_drain$i", Trigger.AvailableNow(), maxFiles = 1))
      val done = q.awaitTermination(120000)
      val secs = (System.nanoTime() - t0) / 1e9
      if (!done) q.stop()
      trace.flush()
      trace.on = false
      Map("records" -> backlogRows, "secs" -> secs, "done" -> done,
        "traced" -> (traced && i == 1))
    }
    val drains = Seq(drain(0, s"$work/sigs")) ++
      (if (traced) Seq(drain(1, s"$work/sigs_copy")) else Nil)

    val checks = verify(spark, keyring, work)
    val all = progress.asScala.toSeq.map { case (id, p) => (names.getOrDefault(id, id), p) }
    def isTraced(name: String, p: StreamingQueryProgress) = traced && (name == "drain1" ||
      (name == "live" && Instant.parse(p.timestamp).toEpochMilli >= toggleMs))
    // per-layer figures of the traced triggers, per trigger that read data
    val layers: Map[String, Double] = if (!traced) Map.empty else {
      for ((name, p) <- all if isTraced(name, p)) triggerSpans(trace, name, p)
      val n = all.count { case (name, p) => isTraced(name, p) && p.numInputRows > 0 }
      val triggers = trace.spanList.filter(_.name == "trigger")
      trace.perOp(n, spark.sparkContext.defaultParallelism) ++ Map(
        "ops.build_ms" -> 0.0,
        "driver.outside_job_ms" -> trace.outsideJobMs(triggers) / math.max(n, 1))
    }
    Map("setup_s" -> setupS, "ready_ms" -> readyMs, "toggle_ms" -> toggleMs,
      "caught_up" -> caughtUp.get, "drains" -> drains, "checks" -> checks,
      "progress" -> all.map { case (name, p) =>
        Map("query" -> name, "traced" -> isTraced(name, p), "p" -> Json.Raw(p.json))
      },
      "layers" -> layers)
  }

  /** A trigger span and one child span per phase, laid out in the order
    * MicroBatchExecution runs them; progress events carry only durations. */
  def triggerSpans(trace: Trace, query: String, p: StreamingQueryProgress): Unit = {
    val t0 = Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    val id = trace.record("trigger", t0, t0 + d.getOrElse("triggerExecution", 0.0), 0L,
      s"$query ${p.batchId}")
    var t = t0
    for (phase <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets"); ms <- d.get(phase)) {
      trace.record(s"trigger.$phase", t, t + ms, id)
      t += ms
    }
  }

  /** Sink checks: one row per distinct payload, each pk once, and each
    * signature equal to sha2(priv|payload) with `priv` taken from
    * Pipeline.keyring for the payload's key. */
  def verify(spark: SparkSession, keyring: DataFrame, work: String): Map[String, Long] = {
    val payloads = spark.read.parquet(s"$work/incoming", s"$work/backlog0")
      .select(unbase64(col("data")).cast("string").as("payload")).distinct()
    val key = coalesce(get_json_object(col("payload"), "$.k"), col("payload"))
    val expected = payloads
      .withColumn("key_id", pmod(graft.functions.Djb2.djb2(key), lit(100L)))
      .join(keyring, "key_id")
      .select(sha2(col("payload"), 256).as("pk"), col("key_id").as("want_key"),
        sha2(concat(col("priv"), lit("|"), col("payload")), 256).as("want_sig"))
    val sink = spark.read.parquet(s"$work/sigs").select("pk", "key_id", "signature")
    val joined = sink.join(expected, Seq("pk"), "full_outer").persist()
    try Map(
      "distinct_payloads" -> payloads.count(),
      "sink_rows" -> sink.count(),
      "distinct_pks" -> sink.select("pk").distinct().count(),
      "missing" -> joined.filter(col("signature").isNull).count(),
      "unexpected" -> joined.filter(col("want_sig").isNull).count(),
      "wrong_signature" -> joined.filter(col("signature").isNotNull &&
        col("want_sig").isNotNull && (col("signature") =!= col("want_sig") ||
        col("key_id") =!= col("want_key"))).count())
    finally { joined.unpersist(); () }
  }
}
