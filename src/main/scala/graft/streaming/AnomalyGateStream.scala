package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Behavior

/** S25 — streaming anomaly gate: q177's Hampel median/MAD rule applied at
  * the ingest boundary, where a metrics pipeline actually wants it — a
  * poisoned value quarantined BEFORE it lands in any aggregate. The
  * per-type robust statistics are a STAGED artifact (the S20 discipline:
  * an index/stat table built by the batch job, read once per stream
  * start), computed by the LITERAL batch code path
  * ([[Behavior.robustStats]]) and applied per micro-batch with the LITERAL
  * batch decision ([[Behavior.anomalyDecided]]) — stream and batch cannot
  * disagree on an event. Clean events land in `clean/`, flagged events in
  * `anomalies/` WITH the statistics that flagged them (the triage
  * evidence, not discarded information) — the A3 error-isolation shape
  * applied to metric quality.
  *
  * Stateless like S9/S18/S19: the decision is a pure function of the
  * event and the staged stats, so a replayed at-least-once batch
  * overwrites its `batch=<id>` partition with an identical split —
  * effectively-exactly-once sinks with no state store. The stats table is
  * deliberately NOT recomputed in the trigger path (that would sort the
  * stream's history every batch); staleness is the documented knob — the
  * batch job refreshes the artifact on its own cadence, exactly like S20's
  * IVF index.
  *
  * Scale shape per batch: one broadcast join against a |event_types|-row
  * table + a map-side projection and split; the stream never shuffles in
  * the trigger path.
  */
object AnomalyGateStream {

  /** Pure batch-side split: (clean, anomalies). `batch` must carry
    * (event_id long, event_type string, value double). */
  private[streaming] def splitBatch(batch: DataFrame, stats: DataFrame)
      : (DataFrame, DataFrame) = {
    val s = batch.sparkSession
    import s.implicits._
    // both sinks re-run this frame's plan — deliberately: one broadcast
    // join + a codegen'd projection is cheaper than materializing the
    // batch (the S19 measurement)
    val decided = Behavior.anomalyDecided(batch, stats)
      .select($"event_id", $"event_type", $"value", $"med", $"mad", $"dev",
        $"is_anomaly")
    (decided.filter(!$"is_anomaly").select($"event_id", $"event_type", $"value"),
      decided.filter($"is_anomaly").drop("is_anomaly"))
  }

  /** Streaming driver. `events` must carry (event_id long, event_type
    * string, value double); `statsPath` is the staged
    * [[Behavior.robustStats]] parquet. */
  def run(events: DataFrame, statsPath: String, root: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit s: SparkSession): StreamingQuery = {
    // read the staged artifact ONCE per stream start; pinned so every
    // micro-batch broadcasts the same tiny table without re-reading
    val stats = s.read.parquet(statsPath).localCheckpoint(true)
    BatchSink.start(events, root, trigger) { (batch, batchId) =>
      val (clean, anomalies) = splitBatch(batch, stats)
      BatchSink.write(root, batchId, "clean" -> clean, "anomalies" -> anomalies)
    }
  }
}
