package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** S30 staged-bounds generation cutover: in-range traffic never elects,
  * drift past the threshold elects exactly once, the rebin carry
  * preserves mass exactly, post-cutover arrivals bin under the widened
  * bounds, and replay re-derives identical artifacts.
  */
class StatsGenStreamSpec extends SparkSpec {

  test("rebin preserves mass exactly and keeps aligned bins in place") {
    // a bin fully inside one new bin when bounds double: old bin i of
    // [0,100) lands in new bin i/2 of [0,200) (pairs collapse)
    val old = Seq(0L -> 10L, 1L -> 7L, 4095L -> 3L)
    val out = StatsGenStream.rebin(old, (0.0, 100.0), (0.0, 200.0)).toMap
    assert(out.values.sum === 20L, "rebin must preserve total mass")
    assert(out(0L) === 17L, "old bins 0+1 collapse into new bin 0")
    assert(out(2047L) === 3L, "old top bin lands at half scale")
    // identical bounds: identity
    val same = StatsGenStream.rebin(old, (0.0, 100.0), (0.0, 100.0)).toMap
    assert(same === old.toMap)
    // adversarial rounding: spread mass still telescopes to the total
    val spread = (0 until 4096).map(i => i.toLong -> 3L)
    val rs = StatsGenStream.rebin(spread, (0.0, 1.0), (-1.0, 3.0))
    assert(rs.map(_._2).sum === 3L * 4096)
  }

  test("rebin property: mass is preserved exactly and bins stay " +
      "non-negative for random histograms and spanning bounds") {
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 1 to 100) {
      // sparse random histogram: up to 64 populated bins, skewed counts
      val hist = Seq.fill(rnd.nextInt(64) + 1)(
        (rnd.nextInt(4096).toLong,
          math.abs(rnd.nextLong() % (1L << rnd.nextInt(40))) + 1L))
      val omn = rnd.nextDouble() * 1000 - 500
      val omx = omn + rnd.nextDouble() * 1000 + 1e-6
      val nmn = omn - rnd.nextDouble() * 500
      val nmx = omx + rnd.nextDouble() * 500
      val out = StatsGenStream.rebin(hist, (omn, omx), (nmn, nmx))
      // the telescoped-CDF rounding must never lose or mint mass, for
      // ANY counts (including ones far past double's 2^53 exactness if
      // they arose — bounded here to 2^40 per bin, realistic per-file
      // partial scale) and ANY spanning bounds
      assert(out.map(_._2).sum === hist.map(_._2).sum,
        s"mass not preserved for bounds ($omn,$omx)->($nmn,$nmx)")
      assert(out.forall { case (b, n) => b >= 0 && b < 4096 && n > 0 })
    }
  }

  test("in-range traffic stays in generation 0; drift elects exactly " +
      "one new generation; mass carries exactly; replay is idempotent") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-sg-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    // phase 1: two in-range files over [0, 100]
    Seq.tabulate(500)(i => i % 101).map(_.toDouble).toDF("p")
      .coalesce(1).write.mode("append").parquet(incoming)
    Seq.tabulate(500)(i => (i * 7) % 101).map(_.toDouble).toDF("p")
      .coalesce(1).write.mode("append").parquet(incoming)
    val gen0 = StatsGenStream.stageInitial(s.read.parquet(incoming), root)
    assert(gen0.g === 0L)

    val q0 = StatsGenStream.run(
      s.readStream.schema("p double")
        .option("maxFilesPerTrigger", 1).parquet(incoming), root)
    assert(q0.awaitTermination(120000))
    assert(StatsGenStream.generations(s, root) === Seq(0L),
      "in-range traffic must not elect")
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m0 = toMap(StatsGenStream.mergedHistogram(s, root))
    assert(m0.values.sum === 1000L)
    // congruence with the S28 one-pass under the same bounds
    assert(m0 === toMap(StatsStream.batchHistogram(
      s.read.parquet(incoming), gen0.mn, gen0.mx)))

    // phase 2: the distribution moves — two files far above the staged
    // bounds. The first is absorbed CLAMPED into gen 0 (its range row is
    // the drift evidence); the second's pre-bin check trips the election
    // and its values bin under the widened bounds, unclamped.
    Seq.tabulate(300)(i => 150.0 + i % 50).toDF("p")
      .coalesce(1).write.mode("append").parquet(incoming)
    val file4 = Seq.tabulate(200)(i => 150.0 + (i * 3) % 50)
    file4.toDF("p").coalesce(1).write.mode("append").parquet(incoming)
    val q1 = StatsGenStream.run(
      s.readStream.schema("p double")
        .option("maxFilesPerTrigger", 1).parquet(incoming), root)
    assert(q1.awaitTermination(120000))

    assert(StatsGenStream.generations(s, root) === Seq(0L, 1L),
      "drift past the threshold must elect exactly one new generation")
    val gen1 = StatsGenStream.currentGen(s, root).get
    assert(gen1.mn <= gen0.mn && gen1.mx >= 199.0,
      s"new bounds must span the drifted values, got $gen1")
    val m1 = toMap(StatsGenStream.mergedHistogram(s, root))
    assert(m1.values.sum === 1500L,
      "carry + post-cutover partials must preserve every row")
    // post-cutover values bin in place, not clamped: the last file's
    // mass sits strictly above the old range's highest bin
    val oldMxBin = ((gen0.mx - gen1.mn) / (gen1.mx - gen1.mn) * 4096).toLong
    assert(m1.filter(_._1 > oldMxBin).values.sum >= 200L,
      "post-cutover drifted mass must land above the old range, unclamped")

    // foreachBatch replay contract, post-commit: re-running the LAST
    // batch (same id, same rows) must change nothing
    StatsGenStream.processBatch(file4.toDF("p"), 3L, root)
    assert(StatsGenStream.generations(s, root) === Seq(0L, 1L))
    assert(toMap(StatsGenStream.mergedHistogram(s, root)) === m1,
      "post-commit replay must rewrite identical artifacts")

    // mid-election crash: the manifest is the commit point — with it
    // gone (carry still on disk), the replayed batch re-elects the
    // IDENTICAL generation from the frozen gen-0 evidence
    val fsys = new org.apache.hadoop.fs.Path(s"$root/gens/g=1")
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$root/gens/g=1"), true)
    StatsGenStream.processBatch(file4.toDF("p"), 3L, root)
    val gen1b = StatsGenStream.currentGen(s, root).get
    assert(gen1b === gen1, "re-election must be deterministic")
    assert(toMap(StatsGenStream.mergedHistogram(s, root)) === m1,
      "re-elected carry + partials must be byte-identical")

    // half-written manifest (crash DURING the write): a gens/g=2
    // directory with no _SUCCESS marker must be invisible — not listed,
    // not wedging currentGen, and healed by the next overwrite
    fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$root/gens/g=2"))
    assert(StatsGenStream.generations(s, root) === Seq(0L, 1L),
      "a markerless manifest directory must not be listed as committed")
    assert(StatsGenStream.currentGen(s, root).get === gen1)
    StatsGenStream.processBatch(file4.toDF("p"), 3L, root)
    assert(toMap(StatsGenStream.mergedHistogram(s, root)) === m1)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$root/gens/g=2"), true)

    // trigger self-exclusion: evidence strictly BEFORE the batch's own
    // id — a crash after batch b wrote its range partial but before the
    // epoch committed must not let b's replay elect off its own row
    Seq((300L, 300L, 500.0, 999.0)).toDF("n", "oob", "mn", "mx")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$root/range/g=1/batch=99")
    assert(StatsGenStream.oobMilli(s, root, 1L, 99L) <= 10L,
      "the batch's own range row must be excluded from its evidence")
    assert(StatsGenStream.oobMilli(s, root, 1L, 100L) > 10L,
      "the SAME row is evidence for the NEXT batch")
    // windowing: drift evidence ages out of the trigger after
    // DriftWindow batches (a cumulative denominator would instead
    // dilute fresh drift under old mass forever)
    assert(StatsGenStream.oobMilli(s, root, 1L,
      99L + StatsGenStream.DriftWindow + 1L) === 0L,
      "evidence older than the window must not trip the trigger")
  }
}
