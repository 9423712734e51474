package graft.ops

import java.nio.file.Files

import graft.SparkSpec

/** The shared-plan SessionCache's liveness contract (VERDICT r10 #4 /
  * ADVICE r9): ONLY a missing-checkpoint-block failure self-heals by
  * rebuilding; any other probe failure — an unreadable corpus, a real
  * executor fault — propagates, so a genuine fault is never masked as
  * cache staleness and "fixed" by a doomed rebuild.
  */
class SessionCacheSpec extends SparkSpec {

  test("missing-checkpoint-block classifier: checkpoint losses yes, real faults no") {
    def chain(t: Throwable, depth: Int): Throwable =
      if (depth == 0) t else chain(new RuntimeException("wrap", t), depth - 1)
    assert(SessionCache.isMissingCheckpointBlock(
      new org.apache.spark.SparkException(
        "Checkpoint block rdd_42_3 not found! Either the executor that " +
          "originally checkpointed this partition is no longer alive ...")))
    assert(SessionCache.isMissingCheckpointBlock(
      new org.apache.spark.storage.BlockNotFoundException("rdd_42_3")))
    assert(SessionCache.isMissingCheckpointBlock(
      chain(new IllegalStateException("Cannot call methods on a stopped SparkContext"), 3)))
    // deeply-wrapped checkpoint loss is still recognized
    assert(SessionCache.isMissingCheckpointBlock(
      chain(new org.apache.spark.storage.BlockNotFoundException("rdd_7_0"), 5)))
    // real faults must NOT classify as staleness
    assert(!SessionCache.isMissingCheckpointBlock(
      new java.io.FileNotFoundException("/data/corpus/part-0000.parquet")))
    assert(!SessionCache.isMissingCheckpointBlock(
      chain(new OutOfMemoryError("GC overhead limit exceeded"), 2)))
    assert(!SessionCache.isMissingCheckpointBlock(
      new org.apache.spark.SparkException("Job aborted due to stage failure")))
    assert(!SessionCache.isMissingCheckpointBlock(
      new RuntimeException(null: String)))
  }

  test("evicted checkpoint blocks rebuild; a genuine read fault propagates") {
    val s = spark
    import s.implicits._
    val cache = SessionCache.frames()
    val dir = Files.createTempDirectory("graft-sc-").toString

    // (a) self-heal: cache a localCheckpoint'd plan, then evict its RDD
    // blocks — the next getOrBuild must probe, classify, and rebuild
    var builds = 0
    def build() = { builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").localCheckpoint(true) }
    val before = s.sparkContext.getPersistentRDDs.keySet
    val first = cache.getOrBuild(s, dir)(build())
    assert(builds === 1 && first.count() === 2L)
    assert(cache.getOrBuild(s, dir)(build()).count() === 2L)
    assert(builds === 1, "warm hit must not rebuild")
    // evict ONLY this entry's checkpoint blocks (a shared test session —
    // other suites' staged assets must stay untouched)
    s.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
      .values.foreach(_.unpersist(true))
    val healed = cache.getOrBuild(s, dir)(build())
    assert(builds === 2, "missing checkpoint blocks must trigger ONE rebuild")
    assert(healed.count() === 2L)

    // (b) propagate: cache an UNCHECKPOINTED scan, delete its files —
    // the probe's FileNotFound is a real fault and must escape, and the
    // broken entry must not be silently replaced
    val cache2 = SessionCache.frames()
    val data = Files.createTempDirectory("graft-sc-data-").toString
    Seq((1L, "x")).toDF("id", "v").write.mode("overwrite").parquet(data)
    var builds2 = 0
    def build2() = { builds2 += 1; s.read.parquet(data) }
    assert(cache2.getOrBuild(s, dir)(build2()).count() === 1L)
    assert(builds2 === 1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(data))
    val thrown = intercept[Throwable] { cache2.getOrBuild(s, dir)(build2()) }
    assert(!SessionCache.isMissingCheckpointBlock(thrown) ||
      // some Spark versions wrap FNF in a generic SparkException; the
      // contract under test is that NO rebuild happened
      builds2 === 1)
    assert(builds2 === 1, "a real read fault must propagate, not rebuild")
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusAccess.flush(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusAccess.flush(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("driver-value cache: built once, a hit starts no job, evict rebuilds") {
    val s = spark
    val cache = SessionCache.values[Array[Long]]()
    val dir = Files.createTempDirectory("graft-sc-v-").toString
    var builds = 0
    def build() = { builds += 1; s.range(3).collect().map(_.longValue) }
    assert(cache.getOrBuild(s, dir)(build()).toSeq === Seq(0L, 1L, 2L))
    assert(builds === 1)
    val jobs = jobsDuring {
      assert(cache.getOrBuild(s, dir)(build()).toSeq === Seq(0L, 1L, 2L))
    }
    assert(builds === 1, "a hit must not rebuild")
    assert(jobs === 0, "a driver-value hit must not probe")
    cache.evict(s)
    cache.getOrBuild(s, dir)(build())
    assert(builds === 2, "evict must force a rebuild")
  }

  test("entries are per session: newSession never shares, evict is per session") {
    val s = spark
    val other = s.newSession()
    val cache = SessionCache.values[String]()
    val dir = Files.createTempDirectory("graft-sc-s-").toString
    assert(cache.getOrBuild(s, dir)("mine") === "mine")
    assert(cache.getOrBuild(other, dir)("theirs") === "theirs")
    assert(cache.getOrBuild(s, dir)("rebuilt") === "mine")
    cache.evict(other)
    assert(cache.getOrBuild(s, dir)("rebuilt") === "mine",
      "evicting one session must leave the other's entries")
    assert(cache.getOrBuild(other, dir)("again") === "again")
  }

  test("dir, dir/ and a relative path to the same dir share one entry") {
    val s = spark
    val cache = SessionCache.values[String]()
    val dir = Files.createTempDirectory("graft-sc-c-")
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(dir).toString
    assert(!new java.io.File(rel).isAbsolute)
    assert(cache.getOrBuild(s, dir.toString)("first") === "first")
    for (alias <- Seq(dir.toString + "/", rel, s"$dir/./"))
      assert(cache.getOrBuild(s, alias)("second") === "first", alias)
  }

  test("a per-dir evict drops only that dir's entry") {
    val s = spark
    val cache = SessionCache.values[String]()
    val a = Files.createTempDirectory("graft-sc-a-").toString
    val b = Files.createTempDirectory("graft-sc-b-").toString
    cache.getOrBuild(s, a)("a1")
    cache.getOrBuild(s, b)("b1")
    cache.evict(s, a + "/")
    assert(cache.getOrBuild(s, a)("a2") === "a2")
    assert(cache.getOrBuild(s, b)("b2") === "b1")
  }
}
