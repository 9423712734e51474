package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * `events.ts` is written as parquet `timestamp[ns]`, which Spark 4 refuses
  * to read natively; sessions are created with
  * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[GraftSession]]) so the
  * column arrives as `LongType` nanoseconds and is converted here to a
  * microsecond `TimestampType` via integer division — bit-identical to the
  * truncation DuckDB applies when it reads the same file, which keeps the
  * DuckDB oracle comparable.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // SCHEMA cache (r15): every spark.read.parquet call runs a ~40ms
  // footer-reading schema-inference job on the driver, SERIALIZED —
  // q199 alone referenced its tables 16 times and paid ~1s before any
  // real work. The fixture dirs are immutable, so the inferred schema is
  // cached and re-supplied via spark.read.schema(...), which skips the
  // inference job entirely while every call still gets a FRESH plan with
  // fresh expression ids. The first cut of this cache shared one
  // DataFrame OBJECT instead; that made self-composed queries
  // canonicalize their subplans equal and changed reuse decisions for
  // the worse (q114 measured 8.5s vs 6.2s isolated) — plan identity is
  // part of a query's tuning surface, so only the schema, never the
  // plan, is shared. The key is (dir, name, nanosAsLong): inference for
  // these immutable files depends only on the files and the one session
  // conf that changes a column's inferred type (events.ts), so keying on
  // the SparkSession would only strongly pin stopped test sessions; the
  // size guard is a paranoia bound, not a working set.
  //
  // CONTRACT (ADVICE r15): this cache assumes (a) the fixture dirs are
  // IMMUTABLE for the JVM's lifetime — regenerating a fixture at the same
  // path within one process would serve the stale schema — and (b) no
  // session varies any OTHER parquet-inference conf (binaryAsString,
  // int96 handling, case sensitivity) across lookups of the same dir.
  // Both hold for every entry point in this repo (Verify/Bench/specs all
  // read driver-written fixtures with GraftSession defaults); a future
  // caller that breaks either must key on the extra conf or bypass
  // Tables and call spark.read.parquet directly.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Boolean), org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (schemaCache.size > 512) schemaCache.clear()
    val nanosAsLong = spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true")
    val schema = schemaCache.computeIfAbsent((dir, name, nanosAsLong),
      _ => spark.read.parquet(s"$dir/$name.parquet").schema)
    val df = spark.read.schema(schema).parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      // `div` (integer division) — ts is ~1.7e18, beyond double's 2^53.
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }
}

/** Scratch root for operators and harnesses that materialize real files
  * (lake roundtrips, staged rewrites, streaming checkpoints). One place
  * derives it — from the working directory (sbt launches every main and
  * spec from the repo root) with an env override for concurrent runs or
  * relocated checkouts — so no operator carries a hardcoded absolute path.
  */
object Scratch {
  lazy val root: String = sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
    new java.io.File("target").getAbsolutePath)

  def dir(parts: String*): String = (root +: parts).mkString("/")

  /** Conventional per-scale-factor scratch: `<root>/<family>/<sf name>`. */
  def forSf(family: String, sfDir: String): String =
    dir(family, new java.io.File(sfDir).getName)
}

/** Session settings shared by Verify / Bench / tests so that every entry
  * point reads the fixtures identically and plans with the same shuffle
  * parallelism.
  */
object GraftSession {
  /** Cores of a local run: `SPARK_GRAFT_CPUS`, else the machine's. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Classes Spark's code generator has compiled in this JVM so far. The
    * bench artifacts report its delta per entry (`codegen_compiles`). */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // AQE on by default (the 100 TB stance — see SCALE.md §3); results
      // are config-independent (order-insensitive aggregation), so perf
      // harnesses may switch it off where its per-query materialization
      // barriers dominate (sub-GB inputs).
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.warehouse.dir", Scratch.dir("warehouse"))
      .config("spark.ui.enabled", "false")
      // Without libhadoop, Hadoop's local file system starts a `chmod`
      // process per file or directory it creates and a `readlink` per
      // FileContext rename — many per streaming trigger. Both APIs are
      // rebound to graft.io's fork-free subclass: FileSystem for
      // data files, AbstractFileSystem for streaming checkpoints (WAL,
      // offsets, commits, state-store deltas). Only `file:` is rebound, so
      // on HDFS/S3 this is inert.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.io.LocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.LocalFs].getName)
      // Listing more than 32 paths (a read of many pruned files or group
      // directories: ManifestStream's pruned read, CompactStream's group
      // merge, JoinAudit's wide stats) runs as a Spark job with one task
      // per path by default; each task deserializes a whole Hadoop
      // Configuration, which costs far more than listing one directory.
      // One task per core.
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", cpus)
      // Spark's generated-class cache is an LRU of 100 entries by default,
      // while the engine's working set is far larger: the 15 corpus_mix
      // queries generate about 290 distinct classes and all 215 queries
      // 4,102 (measured with CodegenMetrics on sf0.01). At 100 most classes
      // were evicted before their reuse, so a warm corpus_mix pass
      // recompiled ~250 and a second pass of the suite 6,423. 8192 is ~2x
      // the whole suite. The cache stays bounded because a streaming
      // dedup embeds its watermark as a literal in the eviction predicate:
      // a long-running stream compiles one new class per trigger, and an
      // unbounded cache would hold their metaspace (and the source text
      // each entry keys on) forever. A static conf: CodeGenerator reads it
      // once per JVM, from the session that first generates code, so every
      // entry point must build its session here before running any query.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // Generated classes are cached per classloader. With artifact
      // isolation (Spark 4's default) each streaming query's cloned
      // session gets its own executor classloader, so its first trigger
      // recompiled every class its plan had already compiled. The engine
      // adds no session artifacts (no addArtifact in src/), so nothing is
      // isolated by turning it off.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Whole-stage codegen numbers a plan's stages children first and, by
      // default, puts the number in the generated class's name, so the
      // cache keys on it. A plan that gains a stage below another then
      // compiles that identical upper stage again, under a new name, and
      // runs it unJITted: the signing stream's seeded plan (one initial
      // state child more than an unseeded one) recompiled its whole
      // sign-and-write stage, and its first drain of 400 rows took 5.8 s
      // instead of 3.6 s (one run each, 4 cores). Without the number,
      // equal stages share a class.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Stream state lives in RocksDB on the executors' local disk, not on
      // their heap: the signing stream's pk index holds one entry per
      // distinct pk ever signed. Changelog checkpointing uploads each
      // batch's changes instead of a snapshot of the store. A checkpoint
      // records its provider in its offset log, so one written under
      // another provider keeps it when resumed.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
}
