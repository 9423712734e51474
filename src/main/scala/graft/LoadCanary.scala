package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Load canary for [[Bench]] (VERDICT r14 #1): a fixed, deterministic,
  * sub-second probe timed at the start, middle, and end of a bench run,
  * emitted as `"load_index"` (observed / expected quiesced cost) on the
  * bench JSON line.
  *
  * Why it exists: the r14 official stamps inflated ~40% WHOLESALE under
  * sustained driver-machine load, and the outlier re-pass could not help
  * because its isolated re-times ran under the SAME load — the fourth
  * consecutive round a judge had to hand-adjudicate phantom movers. The
  * stamps cannot be trusted without a statement of the machine they were
  * taken on; the canary IS that statement. load_index ≈ 1.0 reads
  * "quiesced, stamps comparable"; ≥ ~1.4 reads "loaded — adjudicate
  * against isolated re-runs, not round-over-round" (Bench warns loudly
  * there).
  *
  * The probe: a pure-CPU whole-stage-codegen'd aggregate over
  * `spark.range` — [[ProbeRowsPerCore]] rows per core, one partition per
  * session core, integer arithmetic only. No I/O, no shuffle, no data
  * dependence: each core does the same work at any core count, so its
  * quiesced cost is a machine constant ([[ExpectedSec]]), and CPU
  * contention — the thing that inflates every other stamp — inflates it
  * proportionally. Each probe point warms to a JIT plateau and takes the
  * MIN of [[ProbeIters]] runs, so neither a cold JVM nor a single
  * scheduler hiccup can fake a loaded machine.
  */
object LoadCanary {

  /** Probe size per core: big enough to span many scheduler quanta AND
    * to drown per-job scheduling jitter (at 1M rows per core the probe
    * swung 0.08–0.22 s quiesced across JVM states, a 2.7× spread that
    * would drown the 1.4× signal the canary looks for), small enough
    * that three probe points cost a few seconds of a bench run. */
  val ProbeRowsPerCore: Long = 16L * 1000 * 1000

  /** Timed runs per probe point (after one untimed warmup). */
  val ProbeIters: Int = 3

  /** The quiesced probe cost in seconds, fully warmed, calibrated on a
    * 4-core 15 GB VM from four quiet `graft.Bench` subset runs: their
    * seven middle and end probes read 0.169–0.196 s (median 0.182), the
    * per-run medians 0.169–0.196 s. The run's start probe reads high
    * (0.23–0.28 s, Spark still JIT-warming); the emitted index is the
    * MEDIAN of start/middle/end, so the two steady probes carry it. */
  val ExpectedSec: Double = 0.185

  /** One timed probe run: the fixed aggregate, evaluated to one row. */
  private def probeOnce(spark: SparkSession): Double = {
    val cores = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    spark.range(0L, ProbeRowsPerCore * cores, 1L, cores)
      .selectExpr("id % 997 * 31 + (id >> 3) as x")
      .agg(org.apache.spark.sql.functions.sum("x")).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** One probe point: warm to a JIT plateau, then MIN of [[ProbeIters]]
    * timed runs.
    *
    * Plateau warming: a single untimed warmup is NOT enough — C2 tiering
    * of the probe's generated code keeps improving it for ~8 executions
    * (measured: 0.28 → 0.14 s across points in a fresh JVM), which would
    * make the run's start probe read ×2 "loaded" on a quiesced machine.
    * So warm until consecutive runs stop improving by >10% (bounded).
    *
    * Min, not median, of the timed runs: the canary detects SUSTAINED
    * load (the r14 failure mode inflates every run, min included), and
    * min is far more stable across JVM states — transient one-run spikes
    * (GC, scheduler) are exactly what it exists to ignore. Guarded — a
    * probe failure returns -1 and is dropped from the index rather than
    * breaking the bench contract. */
  def probe(spark: SparkSession): Double =
    try {
      var prev = probeOnce(spark)
      var warmups = 1
      while (warmups < 6 && { val t = probeOnce(spark); val improved = t < prev * 0.9; prev = math.min(prev, t); improved })
        warmups += 1
      (1 to ProbeIters).map(_ => probeOnce(spark)).min
    } catch { case e: Throwable =>
      System.err.println(s"[bench] load canary failed: ${e.getMessage}")
      -1.0
    }

  // ------------------------------------------------------------ I/O leg
  // VERDICT r15 #1: the CPU probe is blind to DISK contention — the r15
  // official run stamped load_index 0.91 ("quiesced") while every
  // I/O-heavy entry inflated 2–12× under sustained disk load
  // (compact_prep 26.9s stamped vs 2.26s judge-isolated). So a second
  // probe leg times a fixed-size parquet WRITE + full-column read-back,
  // emitted as "io_index" next to "load_index": CPU load moves the CPU
  // leg, writeback/disk saturation moves this one, and a judge reading
  // the line sees which regime (if either) taints the stamps.

  /** I/O probe size: 3M rows × two LCG-scrambled longs ≈ 48 MB of
    * incompressible parquet — big enough that the write is a real
    * writeback burst (small files vanish into the page cache and read
    * quiesced even on a saturated disk), small enough that three probe
    * points cost ~2 s of a 150+ s run. The read-back aggregates BOTH
    * columns so the scan decodes every page (the q202 noop-sink
    * discipline); it mostly hits page cache — the WRITE is the
    * disk-sensitive half, which is exactly the half the r15 preps died
    * on. */
  val IoProbeRows: Long = 3L * 1000 * 1000

  /** Timed I/O runs per probe point (after one untimed warmup — the
    * first write pays committer/codegen init). Two, not three: the probe
    * is ~4× the CPU leg's cost and min-of-2 under SUSTAINED disk load is
    * just as immovable (buffered writes stall on writeback whichever run
    * you take). */
  val IoProbeIters: Int = 2

  /** The quiesced I/O probe cost in seconds (write + read of the
    * ~48 MB frame), calibrated with [[ExpectedSec]] from the same four
    * runs: middle and end probes 0.580–0.695 s (median 0.632), per-run
    * medians 0.619–0.695 s; start probes 0.80–0.86 s. */
  val IoExpectedSec: Double = 0.65

  /** One timed I/O run: overwrite the fixed frame, read it back through
    * a both-columns aggregate. xxhash64 produces high-entropy longs
    * (dictionary/delta/snappy cannot shrink them — and unlike a wrapping
    * LCG multiply, it cannot trip ANSI overflow), so the on-disk byte
    * count — the thing the probe exists to push through the disk — is
    * stable across Spark versions. The sums intentionally stay inside
    * try-free territory: sum() over hashes can overflow under ANSI, so
    * aggregate the hashes' low 32 bits. */
  private def ioProbeOnce(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, IoProbeRows, 1L, 4)
      .selectExpr("xxhash64(id) as a", "xxhash64(id, 1) as b")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .selectExpr("sum(a & 4294967295) as sa", "sum(b & 4294967295) as sb")
      .head()
    (System.nanoTime() - t0) / 1e9
  }

  /** One I/O probe point: one untimed warmup, MIN of [[IoProbeIters]]
    * timed runs, then the probe directory is DELETED (the probe must not
    * leave 48 MB of scratch behind, and a stale frame must not let a
    * later read skip the write). Guarded like [[probe]]: a failure
    * returns -1 and drops out of the index. */
  def ioProbe(spark: SparkSession): Double = {
    val dir = Scratch.dir("canary_io")
    try {
      ioProbeOnce(spark, dir)
      (1 to IoProbeIters).map(_ => ioProbeOnce(spark, dir)).min
    } catch { case e: Throwable =>
      System.err.println(s"[bench] io canary failed: ${e.getMessage}")
      -1.0
    } finally {
      try {
        val p = new Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
        ()
      } catch { case _: Throwable => () }
    }
  }

  /** The emitted index: median of the (valid) probe points over the
    * expected quiesced cost, 2 decimals. Median across the run's probe
    * points so a transient spike at one point cannot flag a quiesced
    * run — SUSTAINED load (the r14 failure mode) moves all of them. The
    * LOWER middle for even counts: a single-query subset run has only
    * start+end probes, and the start probe reads high on a cold JVM —
    * the upper middle would stamp such runs "loaded" on a quiet box.
    * Returns -1 when no probe succeeded. */
  def index(observedSec: Seq[Double], expected: Double): Double = {
    val valid = observedSec.filter(t => t > 0 && t.isFinite).sorted
    if (valid.isEmpty || expected <= 0) -1.0
    else math.round(100.0 * valid((valid.size - 1) / 2) / expected) / 100.0
  }
}
