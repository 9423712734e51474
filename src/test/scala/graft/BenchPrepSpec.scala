package graft

/** The prep table and its one runner: which prep is timed, which is
  * staged untimed for a BENCH_ONLY subset, and in what order. The real
  * table's steps are swapped for recorders (the dependents and the
  * has-its-own-stage choice stay the real table's), so no artifact is
  * built; one test runs a real row against a missing fixture dir.
  */
class BenchPrepSpec extends SparkSpec {

  /** The real table with every step replaced by a recorder into `log`. */
  private def recorded(log: collection.mutable.Buffer[String],
      failing: Set[String]): Seq[Bench.Prep] =
    Bench.Preps.map { p =>
      def rec(step: String): Bench.Step = (_, _) => {
        log += s"$step:${p.name}"
        if (step == "build" && failing(p.name)) sys.error("boom")
      }
      p.copy(evict = rec("evict"), build = rec("build"),
        rewarm = rec("rewarm"), stage = p.stage.map(_ => rec("stage")))
    }

  private def run(only: Option[Set[String]], failing: Set[String] = Set.empty)
      : (Seq[(String, Double)], Seq[String]) = {
    val log = collection.mutable.ArrayBuffer.empty[String]
    val stamps = Bench.runPreps(recorded(log, failing), only, spark, sf)
    (stamps, log.toSeq)
  }

  test("the prep table: six rows in order, equal to PrepNames") {
    val names = Seq("dedup_prep", "forget_prep", "compact_prep",
      "suffix_prep", "ann_prep", "planner_prep")
    assert(Bench.Preps.map(_.name) === names)
    assert(Bench.PrepNames === names)
    // a dependent that names no query would never trigger its staging
    Bench.Preps.flatMap(_.dependents).foreach { q =>
      assert(SparkEntry.queries.contains(q), s"$q is not a registered query")
    }
  }

  test("a full run times all six: evict, build, rewarm, in table order") {
    val (stamps, log) = run(None)
    assert(stamps.map(_._1) === Bench.PrepNames)
    assert(stamps.forall(_._2 >= 0), stamps)
    assert(log === Bench.PrepNames.flatMap(n =>
      Seq(s"evict:$n", s"build:$n", s"rewarm:$n")))
  }

  test("q153 without dedup_prep stages only the merges, untimed") {
    val (stamps, log) = run(Some(Set("q153_bpe_encode")))
    assert(stamps.isEmpty)
    assert(log === Seq("stage:dedup_prep"))
  }

  test("q132, q59 and q205 each stage their own prep's build untimed") {
    Seq("q132_global_suffix_rank" -> "suffix_prep",
      "q59_ann_ivf" -> "ann_prep",
      "q205_planner_audit" -> "planner_prep").foreach { case (q, prep) =>
      val (stamps, log) = run(Some(Set(q)))
      assert(stamps.isEmpty, q)
      assert(log === Seq(s"build:$prep"), q)
    }
  }

  test("q100 without forget_prep stages nothing") {
    val (stamps, log) = run(Some(Set("q100_forget_users")))
    assert(stamps.isEmpty && log.isEmpty, log)
  }

  test("a failed build stamps -1 and the next prep still runs") {
    val (stamps, log) = run(Some(Set("forget_prep", "compact_prep")),
      failing = Set("forget_prep"))
    assert(stamps === Seq("forget_prep" -> -1.0, "compact_prep" ->
      stamps.last._2))
    assert(stamps.last._2 >= 0)
    // a failed build skips its rewarm
    assert(log === Seq("evict:forget_prep", "build:forget_prep",
      "evict:compact_prep", "build:compact_prep", "rewarm:compact_prep"))
    // the real row against a missing fixture dir fails the same way
    val real = Bench.runPreps(Bench.Preps.filter(_.name == "compact_prep"),
      None, spark, "/nonexistent/sf")
    assert(real === Seq("compact_prep" -> -1.0))
  }
}
