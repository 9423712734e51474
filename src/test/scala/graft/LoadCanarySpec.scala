package graft

/** The bench load canary (VERDICT r14 #1): index math pinned pure, and
  * the one property that makes the canary worth emitting — CPU
  * contention moves it — demonstrated with deliberate oversubscription.
  */
class LoadCanarySpec extends SparkSpec {

  test("index: median of valid probes over expected, 2 decimals") {
    assert(LoadCanary.index(Seq(0.07), 0.07) === 1.0)
    assert(LoadCanary.index(Seq(0.14, 0.15, 0.13), 0.07) === 2.0)
    // median across probe points: one clean probe cannot hide sustained
    // load, one spike cannot fake it
    assert(LoadCanary.index(Seq(0.07, 0.21, 0.22), 0.07) === 3.0)
    assert(LoadCanary.index(Seq(0.07, 0.07, 0.35), 0.07) === 1.0)
    // two-probe runs (single-query subsets skip the middle point) take
    // the LOWER middle: the cold start probe must not read as load
    assert(LoadCanary.index(Seq(0.2, 0.08), 0.1) === 0.8)
    // failed probes (-1) are dropped; all-failed or bad expected → -1
    assert(LoadCanary.index(Seq(-1.0, 0.14), 0.07) === 2.0)
    assert(LoadCanary.index(Seq(-1.0, -1.0), 0.07) === -1.0)
    assert(LoadCanary.index(Seq(0.07), 0.0) === -1.0)
    assert(LoadCanary.index(Seq.empty, 0.07) === -1.0)
  }

  test("expected costs are positive constants") {
    assert(LoadCanary.ExpectedSec > 0 && LoadCanary.IoExpectedSec > 0)
  }

  test("emitted shape: load_index key parseable on the final line") {
    val line = BenchLine.finalLine(Seq("q1_a" -> 1.0), "sf", 1900,
      Some(LoadCanary.index(Seq(0.1), 0.07))).line
    val re = """"load_index":(-?\d+\.\d{2}),"requeued":0,""".r
    val m = re.findFirstMatchIn(line)
    assert(m.isDefined, s"load_index must precede queries: $line")
    assert(m.get.group(1).toDouble === 1.43)
  }

  test("emitted shape: io_index rides between load_index and queries " +
    "on every rung (VERDICT r15 #1 — parser shape pinned)") {
    val li = Some(1.02)
    val ii = Some(LoadCanary.index(Seq(1.10), 0.55)) // = 2.0
    val full = BenchLine.finalLine(Seq("q1_a" -> 1.0), "sf", 1900,
      li, ii).line
    val re = """"load_index":(-?\d+\.\d{2}),"io_index":(-?\d+\.\d{2}),""".r
    val m = re.findFirstMatchIn(full)
    assert(m.isDefined, s"io_index must follow load_index: $full")
    assert(m.get.group(2).toDouble === 2.0)
    // the family floor (tiny budget) carries both keys too
    val floor = BenchLine.finalLine(Seq("q1_a" -> 1.0), "sf", 10, li, ii).line
    assert(re.findFirstIn(floor).isDefined, s"family floor: $floor")
    // and a failed io canary is emitted as -1, never omitted
    val failed = BenchLine.finalLine(Seq("q1_a" -> 1.0), "sf", 1900,
      li, Some(-1.0)).line
    assert(failed.contains(""""io_index":-1.00,"""), failed)
    // the stamps follow intact
    assert(full.contains(""""queries":{"q1":1.000}"""), full)
  }

  test("io probe: times a real write+read-back and cleans up its scratch") {
    val t = LoadCanary.ioProbe(spark)
    assert(t > 0, s"io probe must succeed, got $t")
    info(f"io probe: $t%.3fs (calibrated expected ${LoadCanary.IoExpectedSec}%.3fs)")
    assert(!new java.io.File(Scratch.dir("canary_io")).exists,
      "the probe must delete its scratch frame")
    // the index math is shared with the CPU leg (same function) — one
    // cross-check that the calibration constant is in the probe's decade,
    // generously banded: the RATIO semantics are pinned above; this only
    // guards against a 10x mis-calibration of the shipped constant
    val idx = LoadCanary.index(Seq(t), LoadCanary.IoExpectedSec)
    assert(idx > 0.2 && idx < 5.0,
      s"io probe $t vs expected ${LoadCanary.IoExpectedSec} → index $idx")
  }

  test("CPU contention moves the canary: deliberate 2x oversubscription " +
    "inflates the probe ≥1.3x over the quiesced calibration") {
    // warm until steady, THEN calibrate (min of 2): Spark's own paths
    // keep JIT-warming across the first probes, and a calibration taken
    // while still warming reads high — which would mask the contention
    // the test exists to demonstrate
    LoadCanary.probe(spark); LoadCanary.probe(spark)
    val quiesced = math.min(LoadCanary.probe(spark), LoadCanary.probe(spark))
    assert(quiesced > 0, "quiesced probe must succeed")
    // a re-probe under the SAME conditions reads ~1.0 against its own
    // calibration — the band is wide (external machine load shifts both
    // measurements together, so only gross instability should fail here;
    // the real assertion below is the loaded/self RATIO, which external
    // load cannot fake)
    val self = LoadCanary.index(Seq(LoadCanary.probe(spark)), quiesced)
    assert(self > 0.3 && self < 2.5, s"self-index was $self")
    // dual-load simulation: spin 2x the machine's cores so the probe's
    // task threads get roughly half a core each (the r14 scenario —
    // another full bench sharing the box)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val spinners = (1 to 2 * Runtime.getRuntime.availableProcessors).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (!stop.get()) { x = x * 6364136223846793005L + 1442695040888963407L }
        if (x == 42L) println(x) // defeat dead-code elimination
      })
      t.setDaemon(true)
      t.start()
      t
    }
    try {
      Thread.sleep(300) // let the scheduler spread the spinners
      // min of 2 loaded probes: under SUSTAINED spin there is no lucky
      // idle window, so even the min carries the contention. Compare
      // against the self-index measured moments ago under the same
      // ambient conditions — the RATIO isolates the spinners' effect
      // even when the whole box is already busy.
      val loaded = LoadCanary.index(Seq(math.min(
        LoadCanary.probe(spark), LoadCanary.probe(spark))), quiesced)
      assert(loaded >= 1.3 * math.max(self, 0.5),
        s"2x oversubscription should inflate the canary ≥1.3x over the " +
          s"same-conditions self-index $self, got $loaded")
    } finally {
      stop.set(true)
      spinners.foreach(_.join(2000))
    }
  }
}
