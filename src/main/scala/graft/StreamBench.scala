package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{DecontamStream, DedupStream, IngestStream, SigningStream, VectorIndexStream}

/** End-to-end streaming throughput: the full EP1→EP2 chain (base64 decode →
  * djb2 partition → dedup → keyring join → sign) over the sf events replayed
  * as a file-source stream, measured in records/second, plus every other
  * streaming seam of the engine.
  *
  * The reference's derived signing ceiling is 0.056–1.67 objects/s
  * (BASELINE.md: 5 concurrent Lambdas × batches of 10 × 30 s admission);
  * this number is the single-node Spark equivalent for the same semantics.
  *
  * Every seam is one [[Seam]] entry of [[seams]], measured by one runner,
  * [[run]]. Two entry points: [[combinedJson]] (reused by [[Bench]], whose
  * JSON line — the per-round BENCH artifact — carries a `streambench`
  * object, so streaming throughput regressions are visible round-to-round,
  * not only in verdict prose) and [[main]] (standalone, one JSON line,
  * emitted triple-redundantly like Bench: stdout, stderr, and
  * `target/streambench.json`). Run: `sbt "runMain graft.StreamBench"`.
  */
object StreamBench {
  /** One seam's measurement: rate, input records, the seam's observable
    * count (reported under `countKey`: `signed` for the signing chain,
    * `clean` for the rest), wall seconds and, when the runner measured
    * it, the classes Spark compiled inside the timed window
    * (`codegen_compiles`). A timed-out run carries rate and count −1. A
    * degenerate run (zero or non-finite seconds → Infinity/NaN rate)
    * emits -1 markers: bare `Infinity`/`NaN` tokens are not valid JSON
    * and would break the driver's parse of the whole bench line (ADVICE
    * r6). */
  final case class SeamResult(recordsPerSec: Double, records: Long,
      clean: Long, seconds: Double, countKey: String = "clean",
      compiles: Option[Long] = None) {
    def rate: Double = if (seconds.isFinite && seconds > 0 && recordsPerSec.isFinite)
      recordsPerSec else -1.0
    /** The embeddable JSON object (no metric wrapper). */
    def json: String = {
      val secs = if (seconds.isFinite) seconds else -1.0
      f"""{"records_per_sec":$rate%.1f,"records":$records,"$countKey":$clean,"seconds":$secs%.3f""" +
        compiles.fold("")(n => s""","codegen_compiles":$n""") + "}"
    }
  }

  /** Every seam's measurement as VALUES, in table order (ADVICE r8:
    * compose and extract structurally, never by regexing serialized JSON).
    * A failed seam is None; so is a seam excluded by
    * `SPARK_GRAFT_STREAM_SEAMS` (comma list of seam tags — the quick-run
    * knob; unset = all), which is skipped without paying its measurement. */
  final case class Combined(results: Seq[(String, Option[SeamResult])]) {
    /** Headline records/sec — the first seam's (the signing chain's) rate,
      * −1 when it failed, was skipped, or timed out. */
    def headlineRate: Double = results.head._2.fold(-1.0)(_.rate)
    /** The first seam's fields at the top level (shape-compatible with
      * every prior round's BENCH) plus one nested object per other seam. */
    def json: String = {
      def obj(r: Option[SeamResult]) = r.fold("""{"records_per_sec":-1}""")(_.json)
      (obj(results.head._2).stripSuffix("}") +:
        results.tail.map { case (k, r) => s""""$k":${obj(r)}""" }).mkString("", ",", "}")
    }
  }

  /** One streaming seam. `key` is its JSON key; its
    * `SPARK_GRAFT_STREAM_SEAMS` tag, its scratch dir and its stderr label
    * are the key without underscores. The stream's schema and file cap
    * are stated, never inferred from the landed files. `stage` lands
    * `incoming` plus any standing artifact, untimed; `body` is the timed
    * window and answers whether every query it awaited finished;
    * `observe` reads the seam's count after a finished run. */
  final case class Seam[S](key: String, schema: String,
      maxFilesPerTrigger: Int = 0, countKey: String = "clean")(
      val stage: Ctx => S)(val body: (Ctx, S) => Boolean)(
      val observe: (Ctx, S) => Long) {
    def tag: String = key.replace("_", "")
  }

  /** What one seam's steps see: its scratch root, its landed input, a
    * stream over it and the runner's [[await]]. */
  final class Ctx private[StreamBench] (spark: SparkSession, sfDir: String,
      seam: Seam[_], timeoutMs: Long) {
    val root = s"${Scratch.forSf("streambench", sfDir)}-${seam.tag}"
    val incoming = s"$root/incoming"
    /** Input records, counted once the stage step has landed them. */
    lazy val records: Long = spark.read.parquet(incoming).count()
    def land(df: DataFrame): Unit = df.write.mode("overwrite").parquet(incoming)
    def append(df: DataFrame): Unit = df.write.mode("append").parquet(incoming)
    /** A fresh file-source stream over the landed input. */
    def stream(): DataFrame = {
      val r = spark.readStream.schema(seam.schema)
      (if (seam.maxFilesPerTrigger > 0) r.option("maxFilesPerTrigger", seam.maxFilesPerTrigger)
       else r).parquet(incoming)
    }
    /** Wait for `q`; on timeout stop it and answer false, so no query of a
      * timed-out seam keeps running to load the seams measured after it. */
    def await(q: StreamingQuery): Boolean =
      q.awaitTermination(timeoutMs) || { q.stop(); false }
    def log(msg: String): Unit = System.err.println(s"[streambench:${seam.tag}] $msg")
  }

  /** How long the runner waits for any one query. */
  private val TimeoutMs = 600000L

  /** Measure `seams` in order, each guarded — a seam failure degrades to
    * None (a −1 marker in the JSON), never breaks the others. A seam whose
    * tag `only` leaves out is not staged at all. */
  private[graft] def run(spark: SparkSession, sfDir: String, seams: Seq[Seam[_]],
      only: Option[Set[String]], timeoutMs: Long = TimeoutMs): Combined =
    Combined(seams.map { seam =>
      seam.key -> (if (!only.forall(_.contains(seam.tag))) None
        else try Some(measure(spark, sfDir, seam, timeoutMs)) catch { case e: Throwable =>
          System.err.println(s"[streambench:${seam.tag}] failed: ${e.getMessage}")
          None
        })
    })

  private def measure[S](spark: SparkSession, sfDir: String, seam: Seam[S],
      timeoutMs: Long): SeamResult = {
    val c = new Ctx(spark, sfDir, seam, timeoutMs)
    // stale checkpoints and sinks would turn the timed run into a no-op
    // (a signing stream seeds its pk index from the stored table and
    // suppresses every already-signed record) —
    // always measure from a clean slate
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(c.root))
    val staged = seam.stage(c)
    val n = c.records
    val c0 = GraftSession.compiles
    val t0 = System.nanoTime()
    val finished = seam.body(c, staged)
    val secs = (System.nanoTime() - t0) / 1e9
    val compiled = Some(GraftSession.compiles - c0)
    if (finished)
      SeamResult(n / secs, n, seam.observe(c, staged), secs, seam.countKey, compiled)
    else {
      c.log(s"timed out after $secs s")
      SeamResult(-1.0, n, -1L, secs, seam.countKey, compiled)
    }
  }

  /** S8's refresh size in copies of the sf delta slice (see the dedup seam). */
  private val DedupRefreshX = 10
  /** S27's replica count (see the labels seam). */
  val LabelReplicas = 80

  /** The seams, in run and JSON order. */
  private[graft] def seams(spark: SparkSession, sfDir: String): Seq[Seam[_]] = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val docSchema = "doc_id long, text string"
    def table(name: String) = Tables(spark, sfDir, name)
    def docs(c: Ctx): Unit = c.land(table("documents").select($"doc_id", $"text"))
    def count(dir: String): Long = spark.read.parquet(dir).count()
    def cents(k: Int) = pmod(($"p" * 100).cast("long"), lit(k))
    def priceDays = table("lineitem")
      .select($"l_extendedprice".as("p"),
        expr("cast(datediff(l_shipdate, date'1970-01-01') as double)").as("d"))
    def fifth(mn: Double, mx: Double) =
      (mn + (mx - mn) * 2 / 5.0, mn + (mx - mn) * 3 / 5.0)
    Seq(
      /* The EP1→EP2 chain once over the sf events. recordsPerSec is −1 on
       * timeout (signed = −1), so a stream that stops completing cannot
       * masquerade as a fast one. */
      Seam("signing", "recordId string, data string, ts timestamp",
          countKey = "signed") { c =>
        // Replay events as raw ingest records (base64-wrapped JSON payloads).
        c.land(table("events").select($"event_id".cast("string").as("recordId"),
          base64($"props".cast("binary")).as("data"), $"ts"))
        ops.Pipeline.keyring(spark)
      } { (c, keyring) =>
        // the fixture's record-id field is `k` (FIXTURES.md) — same key rule
        // as batch q20/q22, so partition routing and signatures agree
        val partitioned = IngestStream.partitionRecords(c.stream(), 5, keyField = "k")
          .filter(col("result") === "Ok")
          .select(col("payload"), col("ts"),
            concat(lit("raw/"), col("bucket_partition"), lit("/obj-"), col("recordId")).as("s3_path"))
        c.await(SigningStream.run(partitioned, keyring, s"${c.root}/sigs", s"${c.root}/ckpt",
          Trigger.AvailableNow(), keyField = "k"))
      } { (c, _) => count(s"${c.root}/sigs") },

      /* S8 throughput: the q72 delta slice (doc_id % 10 == 7) replayed as a
       * file-source stream and near-dup-checked against the standing 90%
       * corpus via [[DedupStream]] — the per-refresh cost of the streaming
       * corpus-refresh seam, measured from a clean slate.
       *
       * The refresh is sized to [[DedupRefreshX]] copies of the sf delta
       * slice in DISJOINT doc_id ranges: a corpus refresh admits
       * micro-batches at Firehose-buffer scale (128 MB / thousands of docs
       * — BASELINE app.ts:36), and at the raw 500-row sf0.1 slice the
       * measurement was dominated by the ~12-job stream lifecycle, not
       * per-record cost (VERDICT r8 #3). Replicas never compare to each
       * other (the index join is delta×standing only), so per-record work
       * — shingle, candidate join, merge-walk verify — is identical to the
       * unreplicated run's. */
      Seam("dedup", docSchema) { c =>
        // standing corpus = the non-delta 90% (q72's split), materialized as
        // a corpus dir because the stream's standing index reads a directory
        val documents = table("documents")
        documents.filter($"doc_id" % 10 =!= 7)
          .write.mode("overwrite").parquet(s"${c.root}/corpus/documents.parquet")
        val deltaBase = documents.filter($"doc_id" % 10 === 7).select($"doc_id", $"text")
        c.land((0 until DedupRefreshX)
          .map(r => deltaBase.select(($"doc_id" + lit(r * 100000000L)).as("doc_id"), $"text"))
          .reduce(_.unionByName(_)))
        // The standing shingle index is a persistent production asset (built
        // once, reused every refresh — DedupStream scaladoc); build it OUTSIDE
        // the timed window so the seam measures the per-refresh cost, not
        // corpus index construction. Evict first: this corpus dir was just
        // rewritten, and a previous measure run in the same session may have
        // checkpointed the old files.
        DedupStream.evictStandingIndex(spark, s"${c.root}/corpus")
        DedupStream.warmStandingIndex(spark, s"${c.root}/corpus")
      } { (c, _) =>
        c.await(DedupStream.run(c.stream(), s"${c.root}/corpus", s"${c.root}/out"))
      } { (c, _) => count(s"${c.root}/out/clean") },

      /* S9 throughput: the full documents table replayed as a file-source
       * stream through [[DecontamStream]]'s eval-collision gate (eval set =
       * q68's doc_id % 97 slice of the same dir) — the admission-gate cost
       * per document, measured from a clean slate. */
      Seam("decontam", docSchema)(docs) { (c, _) =>
        c.await(DecontamStream.run(c.stream(), sfDir, s"${c.root}/out"))
      } { (c, _) => count(s"${c.root}/out/clean") },

      /* S10 throughput: the embeddings table replayed as a file-source
       * stream through [[VectorIndexStream]]'s cell-assignment +
       * partitioned index append — vectors/sec into a searchable IVF index,
       * from a clean slate. `clean` = rows landed in the index (== records
       * on success). */
      Seam("ann_refresh", "vec_id long, embedding array<float>") { c =>
        c.land(table("embeddings").select($"vec_id", $"embedding"))
      } { (c, _) => c.await(VectorIndexStream.run(c.stream(), sfDir, c.root))
      } { (c, _) => count(s"${c.root}/index") },

      /* S11 throughput: the events table replayed as a CDC-ish change
       * stream (key = user_id, payload = props, sequence = event_id)
       * through [[graft.streaming.MergeStream]]'s per-batch decide/apply
       * MERGE into a bucket-partitioned latest-row-per-user table —
       * records/sec through the full upsert path, from a clean slate.
       * `clean` = rows in the merged table (distinct users). */
      Seam("merge", "k long, v string, seq long") { c =>
        c.land(table("events")
          .select($"user_id".as("k"), $"props".as("v"), $"event_id".as("seq")))
      } { (c, _) =>
        c.await(streaming.MergeStream.run(c.stream(), s"${c.root}/table", c.root,
          nBuckets = 64))
      } { (c, _) => count(s"${c.root}/table") },

      /* S12 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.HistogramStream]]'s per-batch
       * partial-histogram write — docs/sec through the corpus-shape
       * maintenance seam, from a clean slate. `clean` = total docs
       * accounted in the merged histogram (Σc — proves the partials lost
       * nothing). */
      Seam("histogram", docSchema)(docs) { (c, _) =>
        c.await(streaming.HistogramStream.run(c.stream(), c.root))
      } { (c, _) =>
        streaming.HistogramStream.mergedHistogram(spark, c.root)
          .agg(sum($"c")).as[Long].collect().head
      },

      /* S13 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.ChunkStream]]'s map-only per-batch
       * chunk write — docs/sec through the retrieval-ingest seam, from a
       * clean slate. `clean` = distinct doc_ids present in the merged chunk
       * index (proves no document vanished between corpus and index —
       * q109's ≥ 1-chunk-per-doc contract, observed). */
      Seam("chunking", docSchema)(docs) { (c, _) =>
        c.await(streaming.ChunkStream.run(c.stream(), c.root))
      } { (c, _) =>
        streaming.ChunkStream.mergedChunks(spark, c.root)
          .select($"doc_id").distinct().count()
      },

      /* S14 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.CardStream]]'s per-batch
       * additive-partial write — docs/sec through the governance-card
       * maintenance seam, from a clean slate. `clean` = Σ n_docs in the
       * standing card (proves the partials lost nothing). */
      Seam("card", "source string, text string") { c =>
        c.land(table("documents").select($"source", $"text"))
      } { (c, _) => c.await(streaming.CardStream.run(c.stream(), c.root))
      } { (c, _) =>
        streaming.CardStream.standingCard(spark, c.root)
          .agg(sum($"n_docs")).as[Long].collect().head
      },

      /* S15 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.SketchStream]]'s per-batch
       * CM-sketch partial write — docs/sec through the heavy-hitter
       * maintenance seam, from a clean slate. `clean` = Σc over the merged
       * sketch / 3 depths (total token occurrences accounted — proves the
       * partials lost nothing). */
      Seam("sketch", docSchema)(docs) { (c, _) =>
        c.await(streaming.SketchStream.run(c.stream(), c.root))
      } { (c, _) =>
        streaming.SketchStream.mergedSketch(spark, c.root)
          .agg(sum($"c")).as[Long].collect().head / 3
      },

      /* S16 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.DriftStream]]'s per-batch
       * per-source histogram write, then the TV probe against a reference
       * built from the same corpus — docs/sec through the drift-gate seam,
       * from a clean slate. `clean` = total docs accounted in the merged
       * per-source histogram (Σc — the partials lost nothing); the probe
       * must read tv = 0 against the identical-corpus reference, asserted
       * here so the measured path is also a correctness check. */
      Seam("drift", "source string, text string") { c =>
        c.land(table("documents").select($"source", $"text"))
      } { (c, _) => c.await(streaming.DriftStream.run(c.stream(), c.root))
      } { (c, _) => driftCount(spark, c.root, sfDir, c.records, c.log) },

      /* S17 throughput: the NON-eval documents replayed as a file-source
       * stream through [[graft.streaming.ExactDecontamStream]]'s
       * exact-substring admission gate — docs/sec through the per-batch
       * suffix-sort + nearest-eval scan, with the eval suffix-key table
       * staged OUTSIDE the timed window (it is the fixed production
       * artifact, built once per session — the S8 standing-index
       * discipline). `clean` = clean-sink row count. */
      Seam("exact_decontam", docSchema) { c =>
        c.land(table("documents").filter($"doc_id" % 97 =!= 0).select($"doc_id", $"text"))
        streaming.ExactDecontamStream.evalSuffixKeys(spark, sfDir).count()
      } { (c, _) =>
        c.await(streaming.ExactDecontamStream.run(c.stream(), sfDir, s"${c.root}/out"))
      } { (c, _) => count(s"${c.root}/out/clean") },

      /* S18 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.ShardStream]]'s deterministic
       * router — docs/sec into the loader-ready shard layout. `clean` =
       * rows landed across all shard partitions (== records on success:
       * routing is a total function, nothing is dropped). */
      Seam("shards", docSchema)(docs) { (c, _) =>
        c.await(streaming.ShardStream.run(c.stream(), s"${c.root}/out"))
      } { (c, _) => count(s"${c.root}/out/shards") },

      /* S19 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.QualityGateStream]]'s
       * soft-quality admission gate — docs/sec through the map-side
       * score+decide split. `clean` = kept-sink row count (the admitted
       * corpus). */
      Seam("quality_gate", docSchema)(docs) { (c, _) =>
        c.await(streaming.QualityGateStream.run(c.stream(), s"${c.root}/out"))
      } { (c, _) => count(s"${c.root}/out/kept") },

      /* S20 throughput: every embedding replayed as an online QUERY against
       * the staged IVF index through [[graft.streaming.ServeStream]] —
       * queries/sec through the serving seam. The index (assignment
       * projection + localCheckpoint + quantizer) is staged OUTSIDE the
       * timed window: serving consumes a standing index (the S8
       * standing-corpus discipline), and its build cost is already on the
       * books as ann_prep/q59's timed bodies. `clean` = result rows
       * (≤ k per query by construction). */
      Seam("serve", "q_id long, q_emb array<float>") { c =>
        c.land(table("embeddings").select($"vec_id".as("q_id"), $"embedding".as("q_emb")))
        ops.Similarity.stagedAssigned(spark, sfDir)
        ops.Similarity.cachedCentroidMeta(spark, sfDir)
      } { (c, _) => c.await(streaming.ServeStream.run(c.stream(), sfDir, c.root))
      } { (c, _) => count(s"${c.root}/results") },

      /* S21 throughput: the documents table replayed as micro-batches
       * through [[graft.streaming.EncodeStream]]'s staged-merge online
       * tokenizer — docs/sec through the encode seam. The merge artifact
       * is staged untimed (its training cost is q137's timed body);
       * `clean` = per-doc stat rows written (= input docs, the encode is
       * total). */
      Seam("encode", docSchema) { c =>
        docs(c)
        ops.TextAnalysis.warmMerges(spark, sfDir)
      } { (c, _) => c.await(streaming.EncodeStream.run(c.stream(), sfDir, c.root))
      } { (c, _) => count(s"${c.root}/stats") },

      /* S22 throughput: events replayed through the STATEFUL sessionizer
       * (cross-batch GroupState + event-time timeouts) — rec/s through the
       * one seam that keeps per-key state across batches. The measured
       * window includes the sentinel flush run (a production sessionizer
       * pays timeout processing continuously; here it lands in one final
       * trigger). `clean` = closed-session rows. */
      Seam("sessions", "user_id long, event_id long, value double, ts timestamp") { c =>
        val events = table("events").select($"user_id", $"event_id", $"value", $"ts")
        c.land(events)
        events.agg(max($"ts")).collect()(0).getTimestamp(0)
      } { (c, maxTs) =>
        c.await(streaming.SessionStream.run(c.stream(), c.root)) && {
          c.append(Seq((-1L, -1L, 0.0, new java.sql.Timestamp(maxTs.getTime + 7200000L)))
            .toDF("user_id", "event_id", "value", "ts"))
          c.await(streaming.SessionStream.run(c.stream(), c.root))
        }
      } { (c, _) => count(s"${c.root}/sessions") },

      /* S23 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.DedupWindowStream]]'s
       * watermark-bounded exact dedup — docs/sec through the state-store
       * suppression seam. Event times are synthesized inside one watermark
       * window (base + doc_id ms), so every exact-duplicate text in the
       * fixture is suppressed by STATE, not by luck of batching. `clean` =
       * kept uniques (= distinct texts when the run is single-window). */
      Seam("window_dedup", "doc_id long, text string, ts timestamp") { c =>
        c.land(table("documents").select($"doc_id", $"text",
          expr("timestamp_millis(1700000000000 + doc_id)").as("ts")))
      } { (c, _) => c.await(streaming.DedupWindowStream.run(c.stream(), c.root))
      } { (c, _) => count(s"${c.root}/unique") },

      /* S24 throughput: the documents table replayed as a file-source
       * stream through [[graft.streaming.SampleStream]]'s stateful weighted
       * reservoir — docs/sec through the mergeable top-k state seam.
       * `clean` = merged global sample size (= 64 once the corpus exceeds
       * the reservoir). */
      Seam("sample", docSchema)(docs) { (c, _) =>
        c.await(streaming.SampleStream.run(c.stream(), c.root))
      } { (c, _) => streaming.SampleStream.sample(c.root).count() },

      /* S25 throughput: the events table replayed as a file-source stream
       * through [[graft.streaming.AnomalyGateStream]]'s Hampel gate against
       * the staged q177 statistics — events/sec through the broadcast
       * join + split. `clean` = clean-sink row count (admitted events). */
      Seam("anomaly_gate", "event_id long, event_type string, value double") { c =>
        val ev = table("events").select($"event_id", $"event_type", $"value")
        c.land(ev)
        // stage the stats artifact the way the nightly batch job would —
        // untimed, like S20's index build
        ops.Behavior.robustStats(ev).write.mode("overwrite").parquet(s"${c.root}/stats")
      } { (c, _) =>
        c.await(streaming.AnomalyGateStream.run(c.stream(), s"${c.root}/stats", s"${c.root}/out"))
      } { (c, _) => count(s"${c.root}/out/clean") },

      /* S26 throughput: the q188 mixed-media fixture replayed as a
       * file-source stream through [[graft.streaming.ContainerGateStream]]'s
       * signature dispatch — payloads/sec through the four map-side
       * classify subplans and the partitioned split. `clean` = media-sink
       * row count (assets admitted past the gate). */
      Seam("container_gate", "doc_id long, payload binary") { c =>
        c.land(multimodal.Multimodal.mixedMediaTable(spark, sfDir))
      } { (c, _) => c.await(streaming.ContainerGateStream.run(c.stream(), s"${c.root}/out"))
      } { (c, _) => count(s"${c.root}/out/media") },

      /* S27 throughput: the near-dup pair graph replayed as a file-source
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
       * spaces (offset stride 10⁷ ≫ any doc_id) so each of the two
       * triggers carries ≥10⁴ edges, while chunking by doc_a parity keeps
       * every replica's component split ACROSS the two batches — the
       * cross-version merge path stays exercised, per batch and at scale.
       * The pair graph itself is computed once and pinned (it was re-run
       * per chunk write in r13 — VERDICT r13 #4). */
      Seam("labels", "doc_a long, doc_b long", maxFilesPerTrigger = 1) { c =>
        val pairs = ops.Dedup.q51NgramJaccard(spark, sfDir)
          .select($"doc_a", $"doc_b").localCheckpoint(true)
        val wide = pairs.crossJoin(
            spark.range(LabelReplicas).select(($"id" * 10000000L).as("off")))
          .select(($"doc_a" + $"off").as("doc_a"), ($"doc_b" + $"off").as("doc_b"))
          .localCheckpoint(true)
        for (chunk <- 0 to 1) c.append(wide.filter(pmod($"doc_a", lit(2)) === chunk).coalesce(1))
      } { (c, _) => c.await(streaming.LabelStream.run(c.stream(), s"${c.root}/out"))
      } { (c, _) => streaming.LabelStream.currentLabels(spark, s"${c.root}/out").count() },

      /* S28 throughput: lineitem prices replayed as a file-source stream
       * through [[graft.streaming.StatsStream]]'s staged-bounds histogram
       * maintenance — rows/sec through the map-side binned partial-agg
       * seam. `clean` = merged-histogram total (must equal the record
       * count: the clamped binning drops nothing). */
      Seam("stats", "p double", maxFilesPerTrigger = 8) { c =>
        val prices = table("lineitem").select($"l_extendedprice".as("p"))
        for (chunk <- 0 to 2) c.append(prices.filter(cents(3) === chunk))
        streaming.StatsStream.stageBounds(spark.read.parquet(c.incoming))
      } { (c, bounds) =>
        c.await(streaming.StatsStream.run(c.stream(), s"${c.root}/out", bounds))
      } { (c, _) =>
        streaming.StatsStream.mergedHistogram(spark, s"${c.root}/out")
          .agg(sum($"n")).as[Long].head()
      },

      /* S29 throughput: lineitem order keys replayed as a file-source
       * stream through [[graft.streaming.NdvStream]]'s KMV maintenance —
       * rows/sec through the map-side distinct + TakeOrdered(K) seam.
       * `clean` = the ndv estimate read off the merged sketch (must track
       * the exact ndv — the merged sketch equals the one-pass sketch by
       * associativity, so this is q200's estimate verbatim). */
      Seam("ndv", "v bigint", maxFilesPerTrigger = 8) { c =>
        val keys = table("lineitem").select($"l_orderkey".as("v"))
        for (chunk <- 0 to 2) c.append(keys.filter(pmod($"v", lit(3)) === chunk))
      } { (c, _) => c.await(streaming.NdvStream.run(c.stream(), s"${c.root}/out"))
      } { (c, _) =>
        streaming.NdvStream.estimate(streaming.NdvStream.mergedSketch(spark, s"${c.root}/out"))
      },

      /* S30 throughput: lineitem prices replayed through
       * [[graft.streaming.StatsGenStream]] with a DRIFTED tail (prices ×3,
       * ~1/7 of the mass) appended after the bounds were staged from the
       * in-range head — so the run exercises a real mid-stream generation
       * cutover, not just the binning core. `clean` = merged-histogram
       * total of the final generation WHEN a cutover actually happened
       * (mass through carry + rebin must equal the record count), −1 if no
       * generation was elected (the seam failed its own premise). */
      Seam("stats_gen", "p double", maxFilesPerTrigger = 2) { c =>
        val prices = table("lineitem").select($"l_extendedprice".as("p"))
        for (chunk <- 0 to 2) c.append(prices.filter(cents(3) === chunk))
        // stage generation 0 from the in-range head — untimed, the nightly
        // election — THEN land the drifted tail
        streaming.StatsGenStream.stageInitial(spark.read.parquet(c.incoming), s"${c.root}/out")
        c.append(prices.filter(cents(7) === 0).select(($"p" * 3).as("p")))
        // an in-range coda AFTER the drifted tail: the election check runs
        // at batch START, so the batch following the drift evidence is the
        // one that cuts over — without a coda, AvailableNow would end the
        // stream on the drifted batch itself and never elect
        c.append(prices.filter(cents(7) === 1))
      } { (c, _) => c.await(streaming.StatsGenStream.run(c.stream(), s"${c.root}/out"))
      } { (c, _) =>
        val cutOver = streaming.StatsGenStream.generations(spark, s"${c.root}/out").size >= 2
        val total = streaming.StatsGenStream.mergedHistogram(spark, s"${c.root}/out")
          .agg(sum($"n")).as[Long].head()
        if (cutOver) total else -1L
      },

      /* S31 throughput: documents' `n_chars` replayed as a file-source
       * stream through [[graft.streaming.McvStream]]'s additive count-table
       * maintenance — rows/sec through the map-side value-count partial
       * seam. `clean` = merged-table mass (must equal the record count —
       * counts of a union are sums of counts, nothing drops), with the
       * q203 estimate logged as the read-time derivation the table exists
       * for. */
      Seam("mcv", "v bigint", maxFilesPerTrigger = 8) { c =>
        for (chunk <- 0 to 2) c.append(table("documents")
          .where(pmod($"doc_id", lit(3)) === chunk).select($"n_chars".as("v")))
      } { (c, _) => c.await(streaming.McvStream.run(c.stream(), s"${c.root}/out"))
      } { (c, _) =>
        val mass = streaming.McvStream.mergedCounts(spark, s"${c.root}/out")
          .agg(sum($"n")).as[Long].head()
        c.log("q203 estimate at k=32 from the streamed table: " +
          streaming.McvStream.estimate(spark, s"${c.root}/out", 32))
        mass
      },

      /* S31-bounded throughput (the r18 corpus-scaled-key mode): orders'
       * o_custkey — a key whose value domain grows with the corpus, the
       * exact case the full value-count partial cannot survive at 100 TB —
       * replayed through [[graft.streaming.McvStream.runBounded]]'s
       * heavy-hitter maintenance (per-batch top-M + one tail row, ≤ M+1
       * rows per partial BY CONSTRUCTION). `clean` = merged head + tail
       * mass (must equal the record count — every batch row lands in
       * exactly one of the two, in any batching), with the standing
       * artifact's row count logged against the |batches|·(M+1) bound. */
      Seam("mcv_bounded", "v bigint", maxFilesPerTrigger = 2) { c =>
        for (chunk <- 0 to 2) c.append(table("orders")
          .where(pmod($"o_orderkey", lit(3)) === chunk).select($"o_custkey".as("v")))
      } { (c, _) => c.await(streaming.McvStream.runBounded(c.stream(), s"${c.root}/out"))
      } { (c, _) =>
        val (hn, tn) = streaming.McvStream.boundedMasses(spark, s"${c.root}/out")
        val artRows = count(s"${c.root}/out/mcv")
        c.log(s"artifact rows $artRows (bound: batches x " +
          s"${streaming.McvStream.BoundSlots + 1}); head mass $hn tail mass $tn")
        hn + tn
      },

      /* S32 throughput: lineitem (price, ship-date-days) replayed as a
       * file-source stream through [[graft.streaming.ManifestStream]] —
       * rows/sec through the z-lay-files + harvest-real-footers +
       * commit-manifest seam. `clean` = the standing manifest's total row
       * mass (must equal the record count), with a conjunctive
       * middle-fifth×middle-fifth pruned read logged: files opened vs
       * files on disk, the two-dimensional planning win the manifest
       * exists for. */
      Seam("manifest", "p double, d double", maxFilesPerTrigger = 1) { c =>
        val rows = priceDays
        for (chunk <- 0 to 2) c.append(rows.filter(cents(3) === chunk))
        streaming.ManifestStream.stageBounds(rows)
      } { (c, bounds) =>
        c.await(streaming.ManifestStream.run(c.stream(), s"${c.root}/out", bounds))
      } { (c, bounds) =>
        val man = streaming.ManifestStream.manifest(spark, s"${c.root}/out")
        val mass = man.agg(sum($"rows")).as[Long].head()
        val nFiles = man.count()
        val (pLo, pHi) = fifth(bounds.pMn, bounds.pMx)
        val (dLo, dHi) = fifth(bounds.dMn, bounds.dMx)
        val opened = streaming.ManifestStream
          .prunedFiles(spark, s"${c.root}/out", pLo, pHi, dLo, dHi).size
        c.log(s"conjunctive middle-fifths read opens $opened of $nFiles files")
        mass
      },

      /* S33 throughput: the manifest fixture replayed through
       * [[graft.streaming.CompactStream]] — rows/sec through the ingest +
       * trigger-check + zone-grouped-rewrite + generation-commit
       * maintenance seam (the executed q206 loop). `clean` = the compacted
       * VIEW's total row mass (must equal the record count through every
       * rewrite), with the read-amplification win logged: files a
       * conjunctive fifth×fifth read opens through the view vs through the
       * raw manifest. */
      Seam("compactor", "p double, d double", maxFilesPerTrigger = 1) { c =>
        val rows = priceDays
        for (chunk <- 0 to 4) c.append(rows.filter(cents(5) === chunk))
        streaming.ManifestStream.stageBounds(rows)
      } { (c, bounds) =>
        c.await(streaming.CompactStream.run(c.stream(), s"${c.root}/out", bounds))
      } { (c, bounds) =>
        val v = streaming.CompactStream.view(spark, s"${c.root}/out")
        val mass = v.agg(sum($"rows")).as[Long].head()
        val (pLo, pHi) = fifth(bounds.pMn, bounds.pMx)
        val (dLo, dHi) = fifth(bounds.dMn, bounds.dMx)
        def opens(man: DataFrame) = man
          .where($"mx_p" >= pLo && $"mn_p" < pHi && $"mx_d" >= dLo && $"mn_d" < dHi).count()
        val raw = streaming.ManifestStream.manifest(spark, s"${c.root}/out")
        c.log(s"conjunctive middle-fifths read opens ${opens(v)} view files vs " +
          s"${opens(raw)} raw (${v.count()} view / ${raw.count()} raw files)")
        mass
      })
  }

  /** The drift seam's count: total docs in the merged per-source
    * histogram, −1 when the identical-corpus probe reads any drift. */
  private def driftCount(spark: SparkSession, root: String, sfDir: String,
      n: Long, log: String => Unit): Long = {
    import spark.implicits._
    if (streaming.BatchSink.ids(spark, s"$root/hist").isEmpty) {
      // ADVICE r9: a corpus yielding zero micro-batches leaves no hist
      // directory; that is a measured-empty seam, not a failure — return
      // it explicitly instead of letting the parquet read throw.
      log(s"no micro-batches landed ($n input docs) — zero-row seam")
      0L
    } else {
      val reference = graft.ops.TextAnalysis.lengthHistogramBy(
        Tables(spark, sfDir, "documents").select($"source", $"text"), "source")
      val drift = streaming.DriftStream.drift(spark, root, reference)
        .agg(coalesce(sum($"tv_num"), lit(0L))).as[Long].collect().head
      val counted = streaming.DriftStream.mergedHistogram(spark, root)
        .agg(coalesce(sum($"c"), lit(0L))).as[Long].collect().head
      // identical reference must read zero drift, or the seam is broken
      if (drift == 0L) counted else -1L
    }
  }

  /** The drift seam's post-termination accounting as a result, for direct
    * spec replay of the zero-batch path (VERDICT r10 #5). */
  private[graft] def driftAccount(spark: SparkSession, root: String,
      sfDir: String, n: Long, secs: Double): SeamResult =
    SeamResult(if (secs > 0) n / secs else 0.0, n,
      driftCount(spark, root, sfDir, n, System.err.println), secs)

  /** Run every seam `SPARK_GRAFT_STREAM_SEAMS` selects (unset = all). */
  def measureAll(spark: SparkSession, sfDir: String): Combined =
    run(spark, sfDir, seams(spark, sfDir), sys.env.get("SPARK_GRAFT_STREAM_SEAMS")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty))

  /** The full streambench object for the round artifact. */
  def combinedJson(spark: SparkSession, sfDir: String): String =
    measureAll(spark, sfDir).json

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()

    // One source of truth for all seams: the same combined object Bench
    // embeds; the headline value comes from the signing result VALUE, not
    // from re-parsing the serialized JSON (ADVICE r8), and is never
    // re-measured (a re-run would double the wall time and could diverge).
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
