package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.Behavior

/** S25 streaming anomaly gate: decisions are the literal q177 Hampel rule
  * against the staged statistics, clean ∪ anomalies is a partition of the
  * input, and the flagged set equals the batch audit exactly.
  */
class AnomalyGateStreamSpec extends SparkSpec {

  test("flag parity with q177, sinks partition the input, stats are the staged artifact") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val root = Files.createTempDirectory("graft-ag-").toString
    val incoming = s"$root/in"
    new java.io.File(incoming).mkdirs()

    val ev = graft.Tables(s, sf, "events")
      .select($"event_id", $"event_type", $"value")
    ev.write.mode("append").parquet(incoming)
    // stage the stats the way the nightly batch job would
    Behavior.robustStats(ev).write.parquet(s"$root/stats")

    val q0 = AnomalyGateStream.run(
      s.readStream.schema("event_id long, event_type string, value double")
        .parquet(incoming), s"$root/stats", root)
    assert(q0.awaitTermination(120000))

    val flagged = s.read.parquet(s"$root/anomalies")
      .select($"event_id", $"med", $"mad", $"dev").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
    val clean = s.read.parquet(s"$root/clean")
      .select($"event_id").as[Long].collect().toSet
    val audit = Behavior.q177EventAnomalies(s, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4), r.getDouble(5)))

    // the stream's flagged set IS the batch audit — ids and statistics
    assert(flagged.map(_._1).toSet === audit.map(_._1).toSet)
    val byId = flagged.toMap
    audit.foreach { case (id, med, mad, dev) =>
      assert(byId(id) === ((med, mad, dev)), s"event $id stats drifted")
    }
    // clean ∪ anomalies partitions the input, no overlap, nothing lost
    val total = ev.count()
    assert(clean.size + flagged.length === total)
    assert(flagged.map(_._1).toSet.intersect(clean).isEmpty)
    assert(flagged.nonEmpty && clean.nonEmpty, "fixture split degenerate")

    // replay: a restarted stream over one more batch re-decides with the
    // SAME staged stats — a known-extreme value must flag
    Seq((900001L, "click", 1e6)).toDF("event_id", "event_type", "value")
      .write.mode("append").parquet(incoming)
    val q1 = AnomalyGateStream.run(
      s.readStream.schema("event_id long, event_type string, value double")
        .parquet(incoming), s"$root/stats", root)
    assert(q1.awaitTermination(120000))
    val flagged2 = s.read.parquet(s"$root/anomalies")
      .select($"event_id").as[Long].collect().toSet
    assert(flagged2.contains(900001L), "staged-stats gate missed the spike")
    assert(flagged2 -- Set(900001L) === flagged.map(_._1).toSet,
      "replay changed prior decisions")
  }
}
