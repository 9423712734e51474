package graft

/** Pure emission logic for [[Bench]]'s stdout contract (VERDICT r14 #2).
  *
  * The driver keeps only the LAST ~2,000 chars of bench stdout and parses
  * the last JSON line; with 200+ per-query stamps the old single-line
  * ladder (3→2→1 decimals → stripped keys → deciseconds) reached
  * 1,756/1,900 chars — ONE more query family from a real resolution loss
  * at the integer-seconds floor. Round-15 restructure:
  *
  *  - full-precision per-query stamps ALWAYS ride on their own
  *    `{"metric":"bench_queries","part":i,"of":n,...}` lines, chunked
  *    under [[DetailChunkChars]], emitted BEFORE the final line (and in
  *    `target/bench.json`, which stays the judge-readable archive);
  *  - the driver-parsed FINAL line keeps the existing ladder while it
  *    fits, but the old 0-decimal floor is replaced by FAMILY mode:
  *    `"queries"` carries per-decade subtotals (bounded ~25 keys at any
  *    query count) plus a `"detail":"target/bench.json"` pointer — the
  *    line can no longer outgrow any budget, and the
  *    `{"metric","value","unit","queries","sf"}` schema stays parseable.
  *
  * Everything here is pure (results in, strings out) so the contract is
  * spec-pinned without running Spark.
  */
object BenchLine {

  /** Target size for each full-precision detail line — comfortably under
    * the driver's tail window so a judge reading raw stdout always sees
    * complete JSON lines. */
  val DetailChunkChars = 1500

  /** "q1_agg" → "q1"; prep entries keep their full name. */
  def shortKey(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (p.matches("q\\d+")) p else name
  }

  /** Family key for the bounded final-line fallback: "q199_x" → "q19x"
    * (decade of the query number); non-qN names (prep entries) keep
    * their own key. */
  def familyKey(name: String): String = {
    val p = shortKey(name)
    if (p.matches("q\\d+")) s"q${p.drop(1).toInt / 10}x" else name
  }

  private def fmtSec(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, "%." + decimals + "f", Double.box(v))

  /** The shared line suffix: optional load_index (CPU leg, VERDICT r14
    * #1) and io_index (disk leg, VERDICT r15 #1) keys ahead of the
    * queries object. -1 (canary failed) is still emitted — a missing key
    * would read as "quiesced" to a grep. */
  private def loadKey(loadIndex: Option[Double],
      ioIndex: Option[Double]): String =
    loadIndex.map(l => s""""load_index":${fmtSec(l, 2)},""").getOrElse("") +
      ioIndex.map(i => s""""io_index":${fmtSec(i, 2)},""").getOrElse("")

  /** The retired outlier re-pass's keys, kept so the line's schema and
    * key order stay byte-compatible: no stamp is re-passed, so every
    * rung truthfully reports zero requeues. */
  private val RequeueKey = """"requeued":0,"requeue_cap_hit":false,"""

  private def totalStr(results: Seq[(String, Double)]): String =
    fmtSec(results.map(_._2).filter(_ >= 0).sum, 3)

  /** The CANARY-NORMALIZED total (VERDICT r19 #4): total ÷
    * max(load_index, 1) — an estimate of what the run would have cost
    * quiesced, emitted NEXT TO the raw total so round-over-round reads
    * compare normalized stamps on a loaded box instead of
    * hand-adjudicating phantom movers. Sub-1.0 (and failed, -1)
    * indices divide by exactly 1 — load only inflates, so
    * normalization never reads better than raw. Absent when no canary
    * ran. */
  private def normKey(results: Seq[(String, Double)],
      loadIndex: Option[Double]): String =
    loadIndex.filter(_.isFinite).map { li =>
      val norm = results.map(_._2).filter(_ >= 0).sum / math.max(li, 1.0)
      s""""total_norm":${fmtSec(norm, 3)},"""
    }.getOrElse("")

  /** One ladder rung of the classic per-query line (3/2/1 decimals,
    * short or digit-stripped keys, or integer deciseconds self-described
    * by `"qunit":"ds"`). Colliding short keys fall back to the full name
    * (loudly) so no timing is ever lost. */
  def queryLine(results: Seq[(String, Double)], sfDir: String,
      decimals: Int, stripQ: Boolean, deci: Boolean = false,
      loadIndex: Option[Double] = None,
      ioIndex: Option[Double] = None,
      warn: String => Unit = _ => ()): String = {
    def key0(name: String): String = {
      val p = shortKey(name)
      if (stripQ && p.matches("q\\d+")) p.drop(1) else p
    }
    val keyCounts = results.groupBy { case (k, _) => key0(k) }.map {
      case (sk, vs) => sk -> vs.size
    }
    def fmt(v: Double): String =
      if (deci) math.round(v * 10).toString else fmtSec(v, decimals)
    val qs = results.map { case (k, v) =>
      val sk = key0(k)
      val key = if (keyCounts(sk) == 1) sk else {
        warn(s"[bench] WARNING: short key '$sk' is ambiguous; emitting full name '$k'")
        k
      }
      "\"" + key + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val qunit = if (deci) "\"qunit\":\"ds\"," else ""
    s"""{"metric":"total","value":${totalStr(results)},"unit":"sec",""" +
      normKey(results, loadIndex) +
      loadKey(loadIndex, ioIndex) + RequeueKey + qunit +
      s""""queries":$qs,"sf":"$sfDir"}"""
  }

  /** The bounded FAMILY line — the ladder's new floor: per-decade
    * subtotals (1 decimal — these are roll-ups, the precision lives on
    * the detail lines) plus the detail pointer. Failed queries (-1) are
    * excluded from their family subtotal and reported as a COUNT plus at
    * most [[MaxFailedNames]] names — an unbounded name list could blow
    * the very budget this floor exists to respect (a run whose fixture
    * dir is missing fails every query). */
  val MaxFailedNames = 8
  def familyLine(results: Seq[(String, Double)], sfDir: String,
      loadIndex: Option[Double] = None,
      ioIndex: Option[Double] = None): String = {
    val (ok, failed) = results.partition(_._2 >= 0)
    val fams = ok.groupBy { case (k, _) => familyKey(k) }
      .map { case (f, vs) => f -> vs.map(_._2).sum }
      .toSeq.sortBy(_._1)
      .map { case (f, v) => "\"" + f + "\":" + fmtSec(v, 1) }
      .mkString("{", ",", "}")
    val failedKey =
      if (failed.isEmpty) ""
      else s""""n_failed":${failed.size},"failed":""" +
        failed.take(MaxFailedNames).map("\"" + _._1 + "\"")
          .mkString("[", ",", "]") + ","
    s"""{"metric":"total","value":${totalStr(results)},"unit":"sec",""" +
      normKey(results, loadIndex) +
      loadKey(loadIndex, ioIndex) + RequeueKey +
      s""""detail":"target/bench.json",$failedKey"queries":$fams,"sf":"$sfDir"}"""
  }

  /** Full-precision stamps as standalone labeled lines, chunked to stay
    * readable in a clipped tail. Emitted before the final line; also the
    * content Verify-style tools re-read. */
  def detailLines(results: Seq[(String, Double)], sfDir: String): Seq[String] = {
    val entries = results.map { case (k, v) => "\"" + k + "\":" + fmtSec(v, 3) }
    // greedy chunking under the budget (header ~60 chars)
    val chunks = entries.foldLeft(Vector(Vector.empty[String])) { (acc, e) =>
      if (acc.last.map(_.length + 1).sum + e.length > DetailChunkChars)
        acc :+ Vector(e)
      else acc.init :+ (acc.last :+ e)
    }.filter(_.nonEmpty)
    chunks.zipWithIndex.map { case (c, i) =>
      s"""{"metric":"bench_queries","part":${i + 1},"of":${chunks.size},""" +
        s""""queries":${c.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    }
  }

  /** Rung descriptors for the ladder warning. */
  private val Ladder = Seq((3, false, false), (2, false, false),
    (1, false, false), (1, true, false), (1, true, true))

  /** A chosen final line: the emitted string, its human rung
    * description, and whether the full-precision rung was abandoned —
    * callers branch on `degraded`, never on the description text. */
  final case class Chosen(line: String, rung: String, degraded: Boolean)

  /** The final (driver-parsed) line: the first ladder rung that fits the
    * budget, else the bounded family line. Warnings (ambiguous short
    * keys, and a family line that still exceeds the budget — possible
    * only with absurd sf paths) are deduplicated across the rungs tried
    * and emitted once. */
  def finalLine(results: Seq[(String, Double)], sfDir: String,
      tailBudget: Int, loadIndex: Option[Double] = None,
      ioIndex: Option[Double] = None,
      warn: String => Unit = _ => ()): Chosen = {
    val warnings = scala.collection.mutable.LinkedHashSet.empty[String]
    val chosen = Ladder.iterator
      .map { case (d, sq, ds) =>
        Chosen(
          queryLine(results, sfDir, d, sq, ds, loadIndex, ioIndex,
            warnings += _),
          if (ds) s"deciseconds, stripQ=$sq" else s"$d decimals, stripQ=$sq",
          degraded = (d, sq, ds) != Ladder.head)
      }
      .find(_.line.length <= tailBudget)
      .getOrElse(Chosen(
        familyLine(results, sfDir, loadIndex, ioIndex),
        "family subtotals + detail pointer", degraded = true))
    if (chosen.line.length > tailBudget)
      warnings += s"[bench] WARNING: even the family floor is ${chosen.line.length} chars (> $tailBudget) — driver tail may clip"
    warnings.foreach(warn)
    chosen
  }
}
