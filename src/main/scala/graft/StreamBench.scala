package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{DecontamStream, DedupStream, IngestStream, SigningStream, VectorIndexStream}

/** End-to-end streaming throughput: the full EP1→EP2 chain (base64 decode →
  * djb2 partition → dedup → keyring join → sign) over the sf events replayed
  * as a file-source stream, measured in records/second.
  *
  * The reference's derived signing ceiling is 0.056–1.67 objects/s
  * (BASELINE.md: 5 concurrent Lambdas × batches of 10 × 30 s admission);
  * this number is the single-node Spark equivalent for the same semantics.
  *
  * Two entry points: [[measure]] (reused by [[Bench]], whose JSON line —
  * the per-round BENCH artifact — carries a `streambench` object, so
  * streaming throughput regressions are visible round-to-round, not only
  * in verdict prose) and [[main]] (standalone, one JSON line, emitted
  * triple-redundantly like Bench: stdout, stderr, and
  * `target/streambench.json`). Run: `sbt "runMain graft.StreamBench"`.
  */
object StreamBench {
  final case class Result(recordsPerSec: Double, records: Long, signed: Long,
      seconds: Double) {
    /** The embeddable JSON object (no metric wrapper). A degenerate run
      * (zero or non-finite seconds → Infinity/NaN rate) emits -1 markers:
      * bare `Infinity`/`NaN` tokens are not valid JSON and would break the
      * driver's parse of the whole bench line (ADVICE r6). */
    def json: String = {
      val rate = if (seconds.isFinite && seconds > 0 && recordsPerSec.isFinite)
        recordsPerSec else -1.0
      val secs = if (seconds.isFinite) seconds else -1.0
      f"""{"records_per_sec":$rate%.1f,"records":$records,"signed":$signed,"seconds":$secs%.3f}"""
    }
  }

  /** Throughput of one corpus-hygiene seam (S8 dedup / S9 decontam) —
    * docs/sec through the full streaming split, plus the clean-sink row
    * count as the observable decision. A failed/timed-out run emits −1
    * markers, same contract as [[Result]]. */
  final case class SeamResult(recordsPerSec: Double, records: Long,
      clean: Long, seconds: Double) {
    def json: String = {
      val rate = if (seconds.isFinite && seconds > 0 && recordsPerSec.isFinite)
        recordsPerSec else -1.0
      val secs = if (seconds.isFinite) seconds else -1.0
      f"""{"records_per_sec":$rate%.1f,"records":$records,"clean":$clean,"seconds":$secs%.3f}"""
    }
  }

  /** S8 throughput: the q72 delta slice (doc_id % 10 == 7) replayed as a
    * file-source stream and near-dup-checked against the standing 90%
    * corpus via [[DedupStream]] — the per-refresh cost of the streaming
    * corpus-refresh seam, measured from a clean slate.
    *
    * The refresh is sized to `SPARK_GRAFT_DEDUP_REFRESH_X` (default 10)
    * copies of the sf delta slice in DISJOINT doc_id ranges: a corpus
    * refresh admits micro-batches at Firehose-buffer scale (128 MB /
    * thousands of docs — BASELINE app.ts:36), and at the raw 500-row
    * sf0.1 slice the measurement was dominated by the ~12-job stream
    * lifecycle, not per-record cost (VERDICT r8 #3). Replicas never
    * compare to each other (the index join is delta×standing only), so
    * per-record work — shingle, candidate join, merge-walk verify — is
    * identical to the unreplicated run's. */
  def measureDedup(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-dedup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    // standing corpus = the non-delta 90% (q72's split), materialized as a
    // corpus dir because the stream's standing index reads a directory
    val docs = Tables(spark, sfDir, "documents")
    docs.filter($"doc_id" % 10 =!= 7)
      .write.mode("overwrite").parquet(s"$root/corpus/documents.parquet")
    val incoming = s"$root/incoming"
    val refreshX = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_DEDUP_REFRESH_X", "10").toInt).getOrElse(10))
    val deltaBase = docs.filter($"doc_id" % 10 === 7).select($"doc_id", $"text")
    (0 until refreshX)
      .map(r => deltaBase.select(($"doc_id" + lit(r * 100000000L)).as("doc_id"),
        $"text"))
      .reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    // The standing shingle index is a persistent production asset (built
    // once, reused every refresh — DedupStream scaladoc); build it OUTSIDE
    // the timed window so the seam measures the per-refresh cost, not
    // corpus index construction. Evict first: this corpus dir was just
    // rewritten, and a previous measure run in the same session may have
    // checkpointed the old files.
    DedupStream.evictStandingIndex(spark, s"$root/corpus")
    DedupStream.warmStandingIndex(spark, s"$root/corpus")
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("doc_id long, text string").parquet(incoming)
    val q = DedupStream.run(stream, s"$root/corpus", s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:dedup] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val clean = spark.read.parquet(s"$root/out/clean").count()
      SeamResult(n / secs, n, clean, secs)
    }
  }

  /** S9 throughput: the full documents table replayed as a file-source
    * stream through [[DecontamStream]]'s eval-collision gate (eval set =
    * q68's doc_id % 97 slice of the same dir) — the admission-gate cost
    * per document, measured from a clean slate. */
  def measureDecontam(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-decontam"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("doc_id long, text string").parquet(incoming)
    val q = DecontamStream.run(stream, sfDir, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:decontam] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val clean = spark.read.parquet(s"$root/out/clean").count()
      SeamResult(n / secs, n, clean, secs)
    }
  }

  /** S17 throughput: the NON-eval documents replayed as a file-source
    * stream through [[graft.streaming.ExactDecontamStream]]'s
    * exact-substring admission gate — docs/sec through the per-batch
    * suffix-sort + nearest-eval scan, with the eval suffix-key table
    * staged OUTSIDE the timed window (it is the fixed production
    * artifact, built once per session — the S8 standing-index
    * discipline). `clean` = clean-sink row count. */
  def measureExactDecontam(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-exactdecontam"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").filter($"doc_id" % 97 =!= 0)
      .select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    // stage the eval suffix keys untimed (the persistent artifact)
    streaming.ExactDecontamStream.evalSuffixKeys(spark, sfDir).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("doc_id long, text string").parquet(incoming)
    val q = streaming.ExactDecontamStream.run(stream, sfDir, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:exactdecontam] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val clean = spark.read.parquet(s"$root/out/clean").count()
      SeamResult(n / secs, n, clean, secs)
    }
  }

  /** S18 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.ShardStream]]'s deterministic router —
    * docs/sec into the loader-ready shard layout. `clean` = rows landed
    * across all shard partitions (== records on success: routing is a
    * total function, nothing is dropped). */
  def measureShards(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-shards"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("doc_id long, text string").parquet(incoming)
    val q = streaming.ShardStream.run(stream, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:shards] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val routed = spark.read.parquet(s"$root/out/shards").count()
      SeamResult(n / secs, n, routed, secs)
    }
  }

  /** S19 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.QualityGateStream]]'s soft-quality
    * admission gate — docs/sec through the map-side score+decide split.
    * `clean` = kept-sink row count (the admitted corpus). */
  def measureQualityGate(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-qualitygate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("doc_id long, text string").parquet(incoming)
    val q = streaming.QualityGateStream.run(stream, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:qualitygate] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val keptN = spark.read.parquet(s"$root/out/kept").count()
      SeamResult(n / secs, n, keptN, secs)
    }
  }

  /** S10 throughput: the embeddings table replayed as a file-source stream
    * through [[VectorIndexStream]]'s cell-assignment + partitioned index
    * append — vectors/sec into a searchable IVF index, from a clean
    * slate. `clean` = rows landed in the index (== records on success). */
  def measureIndexRefresh(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-annrefresh"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "embeddings").select($"vec_id", $"embedding")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("vec_id long, embedding array<float>").parquet(incoming)
    val q = VectorIndexStream.run(stream, sfDir, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:annrefresh] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val indexed = spark.read.parquet(s"$root/index").count()
      SeamResult(n / secs, n, indexed, secs)
    }
  }

  /** S20 throughput: every embedding replayed as an online QUERY against
    * the staged IVF index through [[graft.streaming.ServeStream]] —
    * queries/sec through the serving seam. The index (assignment
    * projection + localCheckpoint + quantizer) is staged OUTSIDE the
    * timed window: serving consumes a standing index (the S8
    * standing-corpus discipline), and its build cost is already on the
    * books as ann_prep/q59's timed bodies. `clean` = result rows
    * (≤ k per query by construction). */
  def measureServe(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-serve"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "embeddings")
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    // stage the standing serving assets untimed
    ops.Similarity.stagedAssigned(spark, sfDir)
    ops.Similarity.cachedCentroidMeta(spark, sfDir)
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("q_id long, q_emb array<float>").parquet(incoming)
    val q = streaming.ServeStream.run(stream, sfDir, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:serve] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val served = spark.read.parquet(s"$root/results").count()
      SeamResult(n / secs, n, served, secs)
    }
  }

  /** S21 throughput: the documents table replayed as micro-batches
    * through [[graft.streaming.EncodeStream]]'s staged-merge online
    * tokenizer — docs/sec through the encode seam. The merge artifact is
    * staged untimed (its training cost is q137's timed body); `clean` =
    * per-doc stat rows written (= input docs, the encode is total). */
  def measureEncode(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-encode"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    ops.TextAnalysis.warmMerges(spark, sfDir) // staged artifact, untimed
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("doc_id long, text string").parquet(incoming)
    val q = streaming.EncodeStream.run(stream, sfDir, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:encode] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val encoded = spark.read.parquet(s"$root/stats").count()
      SeamResult(n / secs, n, encoded, secs)
    }
  }

  /** S22 throughput: events replayed through the STATEFUL sessionizer
    * (cross-batch GroupState + event-time timeouts) — rec/s through the
    * one seam that keeps per-key state across batches. The measured
    * window includes the sentinel flush run (a production sessionizer
    * pays timeout processing continuously; here it lands in one final
    * trigger). `clean` = closed-session rows. */
  def measureSessions(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-sessions"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    val events = Tables(spark, sfDir, "events")
      .select($"user_id", $"event_id", $"value", $"ts")
    events.write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val maxTs = events.agg(max($"ts")).collect()(0).getTimestamp(0)
    val schema = "user_id long, event_id long, value double, ts timestamp"
    val t0 = System.nanoTime()
    val q0 = streaming.SessionStream.run(
      spark.readStream.schema(schema).parquet(incoming), root)
    val fin0 = q0.awaitTermination(timeoutMs)
    if (fin0) {
      Seq((-1L, -1L, 0.0, new java.sql.Timestamp(maxTs.getTime + 7200000L)))
        .toDF("user_id", "event_id", "value", "ts")
        .write.mode("append").parquet(incoming)
    }
    val fin1 = fin0 && streaming.SessionStream.run(
      spark.readStream.schema(schema).parquet(incoming), root)
      .awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!fin1) {
      System.err.println(s"[streambench:sessions] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val sessions = spark.read.parquet(s"$root/sessions").count()
      SeamResult(n / secs, n, sessions, secs)
    }
  }

  /** S11 throughput: the events table replayed as a CDC-ish change stream
    * (key = user_id, payload = props, sequence = event_id) through
    * [[MergeStream]]'s per-batch decide/apply MERGE into a bucket-
    * partitioned latest-row-per-user table — records/sec through the full
    * upsert path, from a clean slate. `clean` = rows in the merged table
    * (distinct users). */
  def measureMerge(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-merge"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "events")
      .select($"user_id".as("k"), $"props".as("v"), $"event_id".as("seq"))
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("k long, v string, seq long").parquet(incoming)
    val q = streaming.MergeStream.run(stream, s"$root/table", root,
      nBuckets = 64)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:merge] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val merged = spark.read.parquet(s"$root/table").count()
      SeamResult(n / secs, n, merged, secs)
    }
  }

  /** S12 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.HistogramStream]]'s per-batch partial-
    * histogram write — docs/sec through the corpus-shape maintenance seam,
    * from a clean slate. `clean` = total docs accounted in the merged
    * histogram (Σc — proves the partials lost nothing). */
  def measureHistogram(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-histogram"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("doc_id long, text string").parquet(incoming)
    val q = streaming.HistogramStream.run(stream, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:histogram] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val counted = streaming.HistogramStream.mergedHistogram(spark, root)
        .agg(sum($"c")).as[Long].collect().head
      SeamResult(n / secs, n, counted, secs)
    }
  }

  /** S16 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.DriftStream]]'s per-batch per-source
    * histogram write, then the TV probe against a reference built from the
    * same corpus — docs/sec through the drift-gate seam, from a clean
    * slate. `clean` = total docs accounted in the merged per-source
    * histogram (Σc — the partials lost nothing); the probe must read
    * tv = 0 against the identical-corpus reference, asserted here so the
    * measured path is also a correctness check. */
  def measureDrift(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-drift"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"source", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("source string, text string")
      .parquet(incoming)
    val q = streaming.DriftStream.run(stream, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:drift] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else driftAccount(spark, root, sfDir, n, secs)
  }

  /** The post-termination drift accounting, factored for direct spec
    * replay of the zero-batch path (VERDICT r10 #5). */
  private[graft] def driftAccount(spark: SparkSession, root: String,
      sfDir: String, n: Long, secs: Double): SeamResult = {
    import spark.implicits._
    if (!new java.io.File(s"$root/hist").exists()) {
      // ADVICE r9: a corpus yielding zero micro-batches leaves no hist
      // directory; that is a measured-empty seam, not a failure — return
      // it explicitly instead of letting the parquet read throw.
      System.err.println(s"[streambench:drift] no micro-batches landed ($n input docs) — zero-row seam")
      SeamResult(if (secs > 0) n / secs else 0.0, n, 0L, secs)
    } else {
      val reference = graft.ops.TextAnalysis.lengthHistogramBy(
        Tables(spark, sfDir, "documents").select($"source", $"text"), "source")
      val drift = streaming.DriftStream.drift(spark, root, reference)
        .agg(coalesce(sum($"tv_num"), lit(0L))).as[Long].collect().head
      val counted = streaming.DriftStream.mergedHistogram(spark, root)
        .agg(coalesce(sum($"c"), lit(0L))).as[Long].collect().head
      // identical reference must read zero drift, or the seam is broken
      SeamResult(n / secs, n, if (drift == 0L) counted else -1L, secs)
    }
  }

  /** S13 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.ChunkStream]]'s map-only per-batch chunk
    * write — docs/sec through the retrieval-ingest seam, from a clean
    * slate. `clean` = distinct doc_ids present in the merged chunk index
    * (proves no document vanished between corpus and index — q109's
    * ≥ 1-chunk-per-doc contract, observed). */
  def measureChunking(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-chunking"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("doc_id long, text string").parquet(incoming)
    val q = streaming.ChunkStream.run(stream, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:chunking] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val docsIndexed = streaming.ChunkStream.mergedChunks(spark, root)
        .select($"doc_id").distinct().count()
      SeamResult(n / secs, n, docsIndexed, secs)
    }
  }

  /** S14 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.CardStream]]'s per-batch additive-partial
    * write — docs/sec through the governance-card maintenance seam, from a
    * clean slate. `clean` = Σ n_docs in the standing card (proves the
    * partials lost nothing). */
  def measureCard(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-card"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"source", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("source string, text string").parquet(incoming)
    val q = streaming.CardStream.run(stream, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:card] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val counted = streaming.CardStream.standingCard(spark, root)
        .agg(sum($"n_docs")).as[Long].collect().head
      SeamResult(n / secs, n, counted, secs)
    }
  }

  /** S15 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.SketchStream]]'s per-batch CM-sketch
    * partial write — docs/sec through the heavy-hitter maintenance seam,
    * from a clean slate. `clean` = Σc over the merged sketch / 3 depths
    * (total token occurrences accounted — proves the partials lost
    * nothing). */
  def measureSketch(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-sketch"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("doc_id long, text string").parquet(incoming)
    val q = streaming.SketchStream.run(stream, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:sketch] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val counted = streaming.SketchStream.mergedSketch(spark, root)
        .agg(sum($"c")).as[Long].collect().head / 3
      SeamResult(n / secs, n, counted, secs)
    }
  }

  /** Every seam's measurement as VALUES (ADVICE r8: compose and extract
    * structurally, never by regexing serialized JSON). A failed seam is
    * None; a seam excluded by `SPARK_GRAFT_STREAM_SEAMS` (comma list of
    * signing,dedup,decontam,annrefresh,merge,histogram,chunking,card,
    * sketch,drift,exactdecontam,shards,qualitygate,anomalygate,stats,
    * ndv,statsgen,mcv,manifest,compactor,… — the quick-run knob;
    * unset = all) is also None and is skipped without paying its
    * measurement. */
  final case class Combined(signing: Option[Result], dedup: Option[SeamResult],
      decontam: Option[SeamResult], annRefresh: Option[SeamResult],
      merge: Option[SeamResult], histogram: Option[SeamResult],
      chunking: Option[SeamResult], card: Option[SeamResult],
      sketch: Option[SeamResult], drift: Option[SeamResult],
      exactDecontam: Option[SeamResult],
      shards: Option[SeamResult],
      qualityGate: Option[SeamResult],
      serve: Option[SeamResult],
      encode: Option[SeamResult],
      sessions: Option[SeamResult],
      windowDedup: Option[SeamResult],
      sample: Option[SeamResult],
      anomalyGate: Option[SeamResult],
      containerGate: Option[SeamResult],
      labels: Option[SeamResult],
      stats: Option[SeamResult],
      ndv: Option[SeamResult],
      statsGen: Option[SeamResult],
      mcv: Option[SeamResult],
      mcvBounded: Option[SeamResult],
      manifest: Option[SeamResult],
      compactor: Option[SeamResult]) {
    /** Headline records/sec — the signing chain's rate, −1 when the seam
      * failed, was skipped, or timed out. */
    def headlineRate: Double = signing match {
      case Some(r) if r.seconds.isFinite && r.seconds > 0 &&
        r.recordsPerSec.isFinite => r.recordsPerSec
      case _ => -1.0
    }
    /** The signing chain's fields at the top level (shape-compatible with
      * every prior round's BENCH) plus one nested object per seam. */
    def json: String = {
      val failed = """{"records_per_sec":-1}"""
      val head = signing.map(_.json).getOrElse(failed)
      val tail = Seq("dedup" -> dedup, "decontam" -> decontam,
        "ann_refresh" -> annRefresh, "merge" -> merge,
        "histogram" -> histogram, "chunking" -> chunking,
        "card" -> card, "sketch" -> sketch,
        "drift" -> drift, "exact_decontam" -> exactDecontam,
        "shards" -> shards, "quality_gate" -> qualityGate,
        "serve" -> serve, "encode" -> encode,
        "sessions" -> sessions,
        "window_dedup" -> windowDedup,
        "sample" -> sample,
        "anomaly_gate" -> anomalyGate,
        "container_gate" -> containerGate,
        "labels" -> labels,
        "stats" -> stats,
        "ndv" -> ndv,
        "stats_gen" -> statsGen,
        "mcv" -> mcv,
        "mcv_bounded" -> mcvBounded,
        "manifest" -> manifest,
        "compactor" -> compactor).map { case (k, v) =>
        s""""$k":${v.map(_.json).getOrElse(failed)}"""
      }.mkString(",")
      head.stripSuffix("}") + s",$tail}"
    }
  }

  /** Run every requested seam, each guarded — a seam failure degrades to
    * None (a −1 marker in the JSON), never breaks the others. */
  def measureAll(spark: SparkSession, sfDir: String): Combined = {
    val seams = sys.env.get("SPARK_GRAFT_STREAM_SEAMS")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    def guarded[A](tag: String)(body: => A): Option[A] =
      if (!seams.forall(_.contains(tag))) None
      else try Some(body) catch { case e: Throwable =>
        System.err.println(s"[streambench:$tag] failed: ${e.getMessage}")
        None
      }
    Combined(
      guarded("signing")(measure(spark, sfDir)),
      guarded("dedup")(measureDedup(spark, sfDir)),
      guarded("decontam")(measureDecontam(spark, sfDir)),
      guarded("annrefresh")(measureIndexRefresh(spark, sfDir)),
      guarded("merge")(measureMerge(spark, sfDir)),
      guarded("histogram")(measureHistogram(spark, sfDir)),
      guarded("chunking")(measureChunking(spark, sfDir)),
      guarded("card")(measureCard(spark, sfDir)),
      guarded("sketch")(measureSketch(spark, sfDir)),
      guarded("drift")(measureDrift(spark, sfDir)),
      guarded("exactdecontam")(measureExactDecontam(spark, sfDir)),
      guarded("shards")(measureShards(spark, sfDir)),
      guarded("qualitygate")(measureQualityGate(spark, sfDir)),
      guarded("serve")(measureServe(spark, sfDir)),
      guarded("encode")(measureEncode(spark, sfDir)),
      guarded("sessions")(measureSessions(spark, sfDir)),
      guarded("windowdedup")(measureWindowDedup(spark, sfDir)),
      guarded("sample")(measureSample(spark, sfDir)),
      guarded("anomalygate")(measureAnomalyGate(spark, sfDir)),
      guarded("containergate")(measureContainerGate(spark, sfDir)),
      guarded("labels")(measureLabels(spark, sfDir)),
      guarded("stats")(measureStats(spark, sfDir)),
      guarded("ndv")(measureNdv(spark, sfDir)),
      guarded("statsgen")(measureStatsGen(spark, sfDir)),
      guarded("mcv")(measureMcv(spark, sfDir)),
      guarded("mcvbounded")(measureMcvBounded(spark, sfDir)),
      guarded("manifest")(measureManifest(spark, sfDir)),
      guarded("compactor")(measureCompactor(spark, sfDir)))
  }

  /** S33 throughput: the manifest fixture replayed through
    * [[graft.streaming.CompactStream]] — rows/sec through the
    * ingest + trigger-check + zone-grouped-rewrite + generation-commit
    * maintenance seam (the executed q206 loop). `clean` = the compacted
    * VIEW's total row mass (must equal the record count through every
    * rewrite), with the read-amplification win logged: files a
    * conjunctive fifth×fifth read opens through the view vs through the
    * raw manifest. */
  def measureCompactor(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-compactor"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    val rows = Tables(spark, sfDir, "lineitem")
      .select($"l_extendedprice".as("p"),
        expr("cast(datediff(l_shipdate, date'1970-01-01') as double)")
          .as("d"))
    for (chunk <- 0 to 4) {
      rows.filter(pmod(($"p" * 100).cast("long"), lit(5)) === chunk)
        .write.mode("append").parquet(incoming)
    }
    val bounds = streaming.ManifestStream.stageBounds(rows)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("p double, d double")
      .option("maxFilesPerTrigger", 1).parquet(incoming)
    val q = streaming.CompactStream.run(stream, s"$root/out", bounds)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:compactor] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val v = streaming.CompactStream.view(spark, s"$root/out")
      val mass = v.agg(sum($"rows")).as[Long].head()
      def fifth(mn: Double, mx: Double) =
        (mn + (mx - mn) * 2 / 5.0, mn + (mx - mn) * 3 / 5.0)
      val (pLo, pHi) = fifth(bounds.pMn, bounds.pMx)
      val (dLo, dHi) = fifth(bounds.dMn, bounds.dMx)
      def opens(man: org.apache.spark.sql.DataFrame) = man
        .where($"mx_p" >= pLo && $"mn_p" < pHi &&
          $"mx_d" >= dLo && $"mn_d" < dHi).count()
      val (vOpen, rawOpen) = (opens(v),
        opens(streaming.ManifestStream.manifest(spark, s"$root/out")))
      System.err.println(s"[streambench:compactor] conjunctive " +
        s"middle-fifths read opens $vOpen view files vs $rawOpen raw " +
        s"(${v.count()} view / " +
        s"${streaming.ManifestStream.manifest(spark, s"$root/out").count()} raw files)")
      SeamResult(n / secs, n, mass, secs)
    }
  }

  /** S32 throughput: lineitem (price, ship-date-days) replayed as a
    * file-source stream through [[graft.streaming.ManifestStream]] —
    * rows/sec through the z-lay-files + harvest-real-footers +
    * commit-manifest seam. `clean` = the standing manifest's total row
    * mass (must equal the record count), with a conjunctive
    * middle-fifth×middle-fifth pruned read logged: files opened vs
    * files on disk, the two-dimensional planning win the manifest
    * exists for. */
  def measureManifest(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-manifest"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    val rows = Tables(spark, sfDir, "lineitem")
      .select($"l_extendedprice".as("p"),
        expr("cast(datediff(l_shipdate, date'1970-01-01') as double)")
          .as("d"))
    for (chunk <- 0 to 2) {
      rows.filter(pmod(($"p" * 100).cast("long"), lit(3)) === chunk)
        .write.mode("append").parquet(incoming)
    }
    val bounds = streaming.ManifestStream.stageBounds(rows)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema("p double, d double")
      .option("maxFilesPerTrigger", 1).parquet(incoming)
    val q = streaming.ManifestStream.run(stream, s"$root/out", bounds)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:manifest] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val man = streaming.ManifestStream.manifest(spark, s"$root/out")
      val mass = man.agg(sum($"rows")).as[Long].head()
      val nFiles = man.count()
      def fifth(mn: Double, mx: Double) =
        (mn + (mx - mn) * 2 / 5.0, mn + (mx - mn) * 3 / 5.0)
      val (pLo, pHi) = fifth(bounds.pMn, bounds.pMx)
      val (dLo, dHi) = fifth(bounds.dMn, bounds.dMx)
      val opened = streaming.ManifestStream
        .prunedFiles(spark, s"$root/out", pLo, pHi, dLo, dHi).size
      System.err.println(s"[streambench:manifest] conjunctive " +
        s"middle-fifths read opens $opened of $nFiles files")
      SeamResult(n / secs, n, mass, secs)
    }
  }

  /** S31 throughput: documents' `n_chars` replayed as a file-source
    * stream through [[graft.streaming.McvStream]]'s additive count-table
    * maintenance — rows/sec through the map-side value-count partial
    * seam. `clean` = merged-table mass (must equal the record count —
    * counts of a union are sums of counts, nothing drops), with the q203
    * estimate logged as the read-time derivation the table exists for. */
  def measureMcv(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-mcv"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    for (chunk <- 0 to 2) {
      Tables(spark, sfDir, "documents")
        .where(pmod($"doc_id", lit(3)) === chunk)
        .select($"n_chars".as("v"))
        .write.mode("append").parquet(incoming)
    }
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("v bigint").option("maxFilesPerTrigger", 8).parquet(incoming)
    val q = streaming.McvStream.run(stream, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:mcv] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val mass = streaming.McvStream.mergedCounts(spark, s"$root/out")
        .agg(sum($"n")).as[Long].head()
      System.err.println(s"[streambench:mcv] q203 estimate at k=32 from " +
        s"the streamed table: ${streaming.McvStream.estimate(spark, s"$root/out", 32)}")
      SeamResult(n / secs, n, mass, secs)
    }
  }

  /** S31-bounded throughput (the r18 corpus-scaled-key mode): orders'
    * o_custkey — a key whose value domain grows with the corpus, the
    * exact case the full value-count partial cannot survive at 100 TB —
    * replayed through [[graft.streaming.McvStream.runBounded]]'s
    * heavy-hitter maintenance (per-batch top-M + one tail row, ≤ M+1
    * rows per partial BY CONSTRUCTION). `clean` = merged head + tail
    * mass (must equal the record count — every batch row lands in
    * exactly one of the two, in any batching), with the standing
    * artifact's row count logged against the |batches|·(M+1) bound. */
  def measureMcvBounded(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-mcvb"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    for (chunk <- 0 to 2) {
      Tables(spark, sfDir, "orders")
        .where(pmod($"o_orderkey", lit(3)) === chunk)
        .select($"o_custkey".as("v"))
        .write.mode("append").parquet(incoming)
    }
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("v bigint").option("maxFilesPerTrigger", 2).parquet(incoming)
    val q = streaming.McvStream.runBounded(stream, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:mcvbounded] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val (hn, tn) = streaming.McvStream.boundedMasses(spark, s"$root/out")
      val artRows = spark.read.parquet(s"$root/out/mcv").count()
      System.err.println(s"[streambench:mcvbounded] artifact rows " +
        s"$artRows (bound: batches x ${streaming.McvStream.BoundSlots + 1}); " +
        s"head mass $hn tail mass $tn")
      SeamResult(n / secs, n, hn + tn, secs)
    }
  }

  /** S30 throughput: lineitem prices replayed through
    * [[graft.streaming.StatsGenStream]] with a DRIFTED tail (prices ×3,
    * ~1/7 of the mass) appended after the bounds were staged from the
    * in-range head — so the run exercises a real mid-stream generation
    * cutover, not just the binning core. `clean` = merged-histogram
    * total of the final generation WHEN a cutover actually happened
    * (mass through carry + rebin must equal the record count), −1 if no
    * generation was elected (the seam failed its own premise). */
  def measureStatsGen(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-statsgen"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    val prices = Tables(spark, sfDir, "lineitem")
      .select($"l_extendedprice".as("p"))
    for (chunk <- 0 to 2) {
      prices.filter(pmod(($"p" * 100).cast("long"), lit(3)) === chunk)
        .write.mode("append").parquet(incoming)
    }
    // stage generation 0 from the in-range head — untimed, the nightly
    // election — THEN land the drifted tail
    streaming.StatsGenStream
      .stageInitial(spark.read.parquet(incoming), s"$root/out")
    prices.filter(pmod(($"p" * 100).cast("long"), lit(7)) === 0)
      .select(($"p" * 3).as("p"))
      .write.mode("append").parquet(incoming)
    // an in-range coda AFTER the drifted tail: the election check runs
    // at batch START, so the batch following the drift evidence is the
    // one that cuts over — without a coda, AvailableNow would end the
    // stream on the drifted batch itself and never elect
    prices.filter(pmod(($"p" * 100).cast("long"), lit(7)) === 1)
      .write.mode("append").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("p double").option("maxFilesPerTrigger", 2).parquet(incoming)
    val q = streaming.StatsGenStream.run(stream, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:statsgen] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val cutOver =
        streaming.StatsGenStream.generations(spark, s"$root/out").size >= 2
      val total = streaming.StatsGenStream
        .mergedHistogram(spark, s"$root/out")
        .agg(sum($"n")).as[Long].head()
      SeamResult(n / secs, n, if (cutOver) total else -1L, secs)
    }
  }

  /** S29 throughput: lineitem order keys replayed as a file-source
    * stream through [[graft.streaming.NdvStream]]'s KMV maintenance —
    * rows/sec through the map-side distinct + TakeOrdered(K) seam.
    * `clean` = the ndv estimate read off the merged sketch (must track
    * the exact ndv — the merged sketch equals the one-pass sketch by
    * associativity, so this is q200's estimate verbatim). */
  def measureNdv(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-ndv"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    val keys = Tables(spark, sfDir, "lineitem").select($"l_orderkey".as("v"))
    for (chunk <- 0 to 2) {
      keys.filter(pmod($"v", lit(3)) === chunk)
        .write.mode("append").parquet(incoming)
    }
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("v bigint").option("maxFilesPerTrigger", 8).parquet(incoming)
    val q = streaming.NdvStream.run(stream, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:ndv] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val est = streaming.NdvStream.estimate(
        streaming.NdvStream.mergedSketch(spark, s"$root/out"))
      SeamResult(n / secs, n, est, secs)
    }
  }

  /** S28 throughput: lineitem prices replayed as a file-source stream
    * through [[graft.streaming.StatsStream]]'s staged-bounds histogram
    * maintenance — rows/sec through the map-side binned partial-agg seam.
    * `clean` = merged-histogram total (must equal the record count: the
    * clamped binning drops nothing). */
  def measureStats(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    val root = s"${Scratch.forSf("streambench", sfDir)}-stats"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    val prices = Tables(spark, sfDir, "lineitem")
      .select($"l_extendedprice".as("p"))
    for (chunk <- 0 to 2) {
      prices.filter(pmod(($"p" * 100).cast("long"), lit(3)) === chunk)
        .write.mode("append").parquet(incoming)
    }
    val bounds = streaming.StatsStream.stageBounds(spark.read.parquet(incoming))
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("p double").option("maxFilesPerTrigger", 8).parquet(incoming)
    val q = streaming.StatsStream.run(stream, s"$root/out", bounds)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:stats] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val total = streaming.StatsStream.mergedHistogram(spark, s"$root/out")
        .agg(sum($"n")).as[Long].head()
      SeamResult(n / secs, n, total, secs)
    }
  }

  /** S25 throughput: the events table replayed as a file-source stream
    * through [[graft.streaming.AnomalyGateStream]]'s Hampel gate against
    * the staged q177 statistics — events/sec through the broadcast
    * join + split. `clean` = clean-sink row count (admitted events). */
  def measureAnomalyGate(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-anomalygate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    val ev = Tables(spark, sfDir, "events")
      .select($"event_id", $"event_type", $"value")
    ev.write.mode("overwrite").parquet(incoming)
    // stage the stats artifact the way the nightly batch job would —
    // untimed, like S20's index build
    ops.Behavior.robustStats(ev)
      .write.mode("overwrite").parquet(s"$root/stats")
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("event_id long, event_type string, value double")
      .parquet(incoming)
    val q = streaming.AnomalyGateStream.run(stream, s"$root/stats", s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:anomalygate] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val cleanN = spark.read.parquet(s"$root/out/clean").count()
      SeamResult(n / secs, n, cleanN, secs)
    }
  }

  /** S26 throughput: the q188 mixed-media fixture replayed as a
    * file-source stream through
    * [[graft.streaming.ContainerGateStream]]'s signature dispatch —
    * payloads/sec through the four map-side classify subplans and the
    * partitioned split. `clean` = media-sink row count (assets admitted
    * past the gate). */
  def measureContainerGate(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-containergate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    multimodal.Multimodal.mixedMediaTable(spark, sfDir)
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("doc_id long, payload binary").parquet(incoming)
    val q = streaming.ContainerGateStream.run(stream, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:containergate] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val okN = spark.read.parquet(s"$root/out/media").count()
      SeamResult(n / secs, n, okN, secs)
    }
  }

  /** S27 throughput: the near-dup pair graph replayed as a file-source
    * stream through [[graft.streaming.LabelStream]]'s versioned label
    * maintenance — pairs/sec through the contracted-CC merge and the
    * artifact rewrite. `clean` = final label-table row count.
    *
    * The seam's per-batch floor (CC rounds + label rewrite + trigger
    * overhead) is a FIXED cost that only amortizes over trigger size —
    * at the fixture's native 256 edges it dominated and the r13 seam
    * read 15.4 rec/s, which measured the floor, not the merge (VERDICT
    * r13 #3). The driver therefore feeds production-shaped triggers:
    * the pair graph is replicated into [[LabelReplicas]] DISJOINT id
    * spaces (offset stride 10⁷ ≫ any doc_id) so each of the two triggers
    * carries ≥10⁴ edges, while chunking by doc_a parity keeps every
    * replica's component split ACROSS the two batches — the
    * cross-version merge path stays exercised, per batch and at scale.
    * The pair graph itself is computed once and pinned (it was re-run
    * per chunk write in r13 — VERDICT r13 #4). */
  val LabelReplicas = 80
  def measureLabels(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-labels"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    val pairs = ops.Dedup.q51NgramJaccard(spark, sfDir)
      .select($"doc_a", $"doc_b").localCheckpoint(true)
    val wide = pairs.crossJoin(
        spark.range(LabelReplicas).select(($"id" * 10000000L).as("off")))
      .select(($"doc_a" + $"off").as("doc_a"), ($"doc_b" + $"off").as("doc_b"))
      .localCheckpoint(true)
    for (chunk <- 0 to 1) {
      wide.filter(pmod($"doc_a", lit(2)) === chunk)
        .coalesce(1).write.mode("append").parquet(incoming)
    }
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("doc_a long, doc_b long")
      .option("maxFilesPerTrigger", 1).parquet(incoming)
    val q = streaming.LabelStream.run(stream, s"$root/out")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:labels] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val labelN = streaming.LabelStream.currentLabels(spark, s"$root/out").count()
      SeamResult(n / secs, n, labelN, secs)
    }
  }

  /** S24 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.SampleStream]]'s stateful weighted
    * reservoir — docs/sec through the mergeable top-k state seam.
    * `clean` = merged global sample size (= 64 once the corpus exceeds
    * the reservoir). */
  def measureSample(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-sample"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("doc_id long, text string").parquet(incoming)
    val q = streaming.SampleStream.run(stream, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:sample] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val k = streaming.SampleStream.sample(root).count()
      SeamResult(n / secs, n, k, secs)
    }
  }

  /** S23 throughput: the documents table replayed as a file-source stream
    * through [[graft.streaming.DedupWindowStream]]'s watermark-bounded
    * exact dedup — docs/sec through the state-store suppression seam.
    * Event times are synthesized inside one watermark window (base +
    * doc_id ms), so every exact-duplicate text in the fixture is
    * suppressed by STATE, not by luck of batching. `clean` = kept
    * uniques (= distinct texts when the run is single-window). */
  def measureWindowDedup(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): SeamResult = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val root = s"${Scratch.forSf("streambench", sfDir)}-windowdedup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text",
        expr("timestamp_millis(1700000000000 + doc_id)").as("ts"))
      .write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()
    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("doc_id long, text string, ts timestamp").parquet(incoming)
    val q = streaming.DedupWindowStream.run(stream, root)
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench:windowdedup] timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs)
    } else {
      val kept = spark.read.parquet(s"$root/unique").count()
      SeamResult(n / secs, n, kept, secs)
    }
  }

  /** The full streambench object for the round artifact. */
  def combinedJson(spark: SparkSession, sfDir: String): String =
    measureAll(spark, sfDir).json

  /** Run the EP1→EP2 chain once over `sfDir`'s events from a clean slate.
    * recordsPerSec is −1 on timeout (signed = −1), so a stream that stops
    * completing cannot masquerade as a fast one. */
  def measure(spark: SparkSession, sfDir: String,
      timeoutMs: Long = 600000): Result = {
    import spark.implicits._
    implicit val sp: SparkSession = spark

    val root = Scratch.forSf("streambench", sfDir)
    // stale checkpoint + signatures would turn the timed run into an
    // anti-join-suppressed no-op — always measure from a clean slate
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val incoming = s"$root/incoming"
    // Replay events as raw ingest records (base64-wrapped JSON payloads).
    val raw = Tables(spark, sfDir, "events")
      .select($"event_id".cast("string").as("recordId"),
        base64($"props".cast("binary")).as("data"), $"ts")
    raw.write.mode("overwrite").parquet(incoming)
    val n = spark.read.parquet(incoming).count()

    val keyring = ops.Pipeline.keyring(spark)

    val t0 = System.nanoTime()
    val stream = spark.readStream
      .schema("recordId string, data string, ts timestamp")
      .parquet(incoming)
    // the fixture's record-id field is `k` (FIXTURES.md) — same key rule
    // as batch q20/q22, so partition routing and signatures agree
    val partitioned = IngestStream.partitionRecords(stream, 5, keyField = "k")
      .filter(col("result") === "Ok")
      .select(col("payload"), col("ts"),
        concat(lit("raw/"), col("bucket_partition"), lit("/obj-"), col("recordId")).as("s3_path"))
    val q = SigningStream.run(partitioned, keyring, s"$root/sigs", s"$root/ckpt",
      Trigger.AvailableNow(), keyField = "k")
    val finished = q.awaitTermination(timeoutMs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!finished) {
      q.stop()
      System.err.println(s"[streambench] timed out after $secs s")
      Result(-1.0, n, -1L, secs)
    } else {
      val signed = spark.read.parquet(s"$root/sigs").count()
      Result(n / secs, n, signed, secs)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_BENCH_PARTITIONS", "8"))
      // same local perf defaults as Bench (see its config block for the
      // full-suite evidence); both knobs keep their env overrides
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // One source of truth for all seams (signing + dedup + decontam +
    // ann_refresh): the same combined object Bench embeds; the headline
    // value comes from the signing Result VALUE, not from re-parsing the
    // serialized JSON (ADVICE r8), and is never re-measured (a re-run
    // would double the wall time and could diverge).
    val all = measureAll(spark, sfDir)
    val line = f"""{"metric":"stream_records_per_sec","value":${all.headlineRate}%.1f,""" +
      s""""unit":"rec/sec","streambench":${all.json},"sf":"$sfDir"}"""
    // Triple-redundant emission, same contract as Bench: raw stdout for
    // the parser, stderr + file as belt-and-braces.
    println(line)
    System.err.println(line)
    try {
      val out = java.nio.file.Paths.get("target", "streambench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[streambench] file write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
