package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r15 bench-emission restructure (VERDICT r14 #2): full-precision
  * stamps always ride standalone detail lines; the driver-parsed final
  * line keeps the ladder while it fits and floors at BOUNDED family
  * subtotals + a detail pointer instead of losing resolution. All pure —
  * the stdout contract is pinned without running Spark.
  */
class BenchLineSpec extends AnyFunSuite {

  // a plausible result set: preps + 200 queries at mixed magnitudes
  val results: Seq[(String, Double)] =
    Seq("dedup_prep" -> 2.135, "suffix_prep" -> 11.27, "ann_prep" -> 6.7) ++
      (1 to 200).map(i => f"q${i}%d_some_name_$i" -> (0.05 * (i % 37) + 0.213))

  val keyRe = """"metric":"total","value":(\d+\.\d{3}),"unit":"sec"""".r

  test("full-precision rung when the budget allows") {
    val c = BenchLine.finalLine(results.take(10), "sfX", 1900)
    val (line, rung) = (c.line, c.rung)
    assert(rung === "3 decimals, stripQ=false" && !c.degraded)
    assert(line.length <= 1900)
    assert(keyRe.findFirstIn(line).isDefined)
    assert(line.contains(""""q1":""") && line.endsWith(""""sf":"sfX"}"""))
    assert(line.contains(""""dedup_prep":2.135"""))
  }

  test("family floor under a tight budget: bounded, schema-parseable, pointered") {
    val c = BenchLine.finalLine(results, "sfX", 600)
    val (line, rung) = (c.line, c.rung)
    assert(rung === "family subtotals + detail pointer" && c.degraded)
    assert(line.length <= 600, s"family line must be bounded, got ${line.length}")
    assert(keyRe.findFirstIn(line).isDefined, "driver schema keys intact")
    assert(line.contains(""""detail":"target/bench.json""""))
    assert(line.contains(""""queries":{"""))
    // family keys: decade roll-ups plus untouched prep names
    assert(line.contains(""""q0x":""") && line.contains(""""q19x":"""))
    assert(line.contains(""""dedup_prep":"""))
    // total stays full precision on every rung
    val total = keyRe.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(total - results.map(_._2).sum) < 1e-3)
  }

  test("family subtotals sum the right members and exclude failures") {
    val r = Seq("q10_a" -> 1.0, "q11_b" -> 2.0, "q19_c" -> 4.0,
      "q20_d" -> 8.0, "q7_e" -> -1.0, "x_prep" -> 0.5)
    val line = BenchLine.familyLine(r, "sf")
    assert(line.contains(""""q1x":7.0"""))
    assert(line.contains(""""q2x":8.0"""))
    assert(line.contains(""""x_prep":0.5"""))
    assert(line.contains(""""failed":["q7_e"]"""))
    assert(!line.contains(""""q0x":"""))
  }

  test("detail lines carry every stamp at 3 decimals, each line bounded") {
    val lines = BenchLine.detailLines(results, "sfX")
    assert(lines.size > 1)
    lines.foreach { l =>
      assert(l.length <= BenchLine.DetailChunkChars + 100)
      assert(l.contains(""""metric":"bench_queries""""))
      assert(l.contains(s""""of":${lines.size}"""))
    }
    val all = lines.mkString("\n")
    results.foreach { case (k, v) =>
      assert(all.contains("\"" + k + "\":" + f"$v%.3f"),
        s"stamp for $k missing from detail lines")
    }
    // a SPARK_GRAFT_BENCH_TAIL_BUDGET=600 run still yields full-precision
    // stamps somewhere judge-readable: one entry per stamp, none twice
    val stamp = """"([^"]+)":(-?\d+\.\d{3})[,}]""".r
    val entries = lines.flatMap(l => stamp.findAllMatchIn(
      l.substring(l.indexOf(""""queries":{""")))).map(_.group(1))
    assert(entries === results.map(_._1))
    assert(all.contains(""""suffix_prep":11.270"""))
  }

  test("load_index rides every rung, including the family floor") {
    val l1 = BenchLine.finalLine(results.take(5), "sf", 1900, Some(1.02)).line
    assert(l1.contains(""""load_index":1.02,"""))
    val l2 = BenchLine.finalLine(results, "sf", 600, Some(2.40)).line
    assert(l2.contains(""""load_index":2.40,"""))
    // -1 (canary failed) is emitted, not hidden
    val l3 = BenchLine.finalLine(results.take(5), "sf", 1900, Some(-1.0)).line
    assert(l3.contains(""""load_index":-1.00,"""))
  }

  test("every rung carries requeued 0, cap not hit, the floor included") {
    val rq = """"requeued":0,"requeue_cap_hit":false,"""
    // the full-precision rung, the deciseconds rung and the family floor
    val full = BenchLine.finalLine(results.take(5), "sf", 1900,
      Some(1.0), Some(0.9))
    val dsLen = BenchLine.queryLine(results.take(60), "sf", 1, stripQ = true,
      deci = true, Some(1.0), Some(0.9)).length
    val ds = BenchLine.finalLine(results.take(60), "sf", dsLen,
      Some(1.0), Some(0.9))
    val floor = BenchLine.finalLine(results, "sf", 600, Some(1.0), Some(0.9))
    assert(ds.rung === "deciseconds, stripQ=true", ds.rung)
    assert(floor.rung === "family subtotals + detail pointer")
    Seq(full, ds, floor).foreach { c =>
      assert(c.line.contains(""""io_index":0.90,""" + rq), c.line)
      assert(keyRe.findFirstIn(c.line).isDefined, "driver schema keys intact")
    }
    // no canary: the keys still ride, right after the unit
    val bare = BenchLine.queryLine(Seq("q5_a" -> 4.2), "sf", 3, stripQ = false)
    assert(bare.contains(""""unit":"sec",""" + rq + """"queries":"""), bare)
  }

  test("deciseconds rung still parses with qunit anchored to its own object") {
    val r = Seq("q5_a" -> 4.2, "q6_b" -> 0.7)
    val ds = BenchLine.queryLine(r, "sf", 1, stripQ = true, deci = true,
      loadIndex = Some(1.0))
    // the ds rung declares its unit inside its own object, right before
    // the stamps it scales: 4.2 s -> 42 ds, 0.7 s -> 7 ds
    assert(ds.contains(""""qunit":"ds","queries":{"5":42,"6":7},"sf":"sf"}"""),
      ds)
    // a 3-decimal line carries no qunit, so a ds line before it cannot
    // rescale its stamps
    val full = BenchLine.queryLine(Seq("q9_c" -> 4.2), "sf", 3, stripQ = false)
    assert(!full.contains("qunit"), full)
    assert(full.contains(""""queries":{"q9":4.200}"""), full)
  }

  test("total_norm rides next to the raw total on query and family " +
    "rungs (VERDICT r19 #4): total / max(load_index, 1), absent " +
    "without a canary") {
    val rs = Seq("q1_a" -> 10.0, "q2_b" -> 20.0)
    val l = BenchLine.queryLine(rs, "sf", 3, stripQ = false,
      loadIndex = Some(1.5))
    assert(l.contains(""""unit":"sec","total_norm":20.000,"""), l)
    // a sub-1.0 reading clamps: normalization never reads better than raw
    val q = BenchLine.queryLine(rs, "sf", 3, stripQ = false,
      loadIndex = Some(0.8))
    assert(q.contains(""""total_norm":30.000,"""), q)
    val n = BenchLine.queryLine(rs, "sf", 3, stripQ = false)
    assert(!n.contains("total_norm"), n)
    val f = BenchLine.familyLine(rs, "sf", loadIndex = Some(2.0))
    assert(f.contains(""""total_norm":15.000,"""), f)
    // failed queries stay out of both totals
    val withFail = rs :+ ("q3_c" -> -1.0)
    val w = BenchLine.queryLine(withFail, "sf", 3, stripQ = false,
      loadIndex = Some(1.5))
    assert(w.contains(""""unit":"sec","total_norm":20.000,"""), w)
  }
}
