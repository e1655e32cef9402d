package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Relational

/** Streaming SCD TYPE-2 maintenance — the online form of `events_scd2`:
  * each micro-batch folds its events into maximal runs
  * ([[Relational.scd2Runs]] — the SHARED batch body), merges them with the
  * persisted runs table ([[Relational.scd2MergeRuns]], the run monoid's
  * associative op), and writes a new version of the store. A dashboard
  * reads [[intervals]] — [[Relational.scd2RunsToIntervals]] over the
  * newest version — so the dimension a consumer sees is always computed by
  * exactly the batch operator's arithmetic over everything ingested.
  *
  * Delivery contract: run-stitching is correct when batch boundaries cut
  * each user's timeline into PREFIXES (an ordered log / CDC feed — the
  * shape checkpointed sources deliver). Out-of-order events across batch
  * boundaries would interleave runs and need the batch operator over the
  * raw feed instead.
  *
  * Replay safety: run counts are plain sums, not idempotent under
  * re-merge, so safety rests on [[VersionedStore.fold]] (its scaladoc
  * gives the argument).
  *
  * Scale: the store holds one row per (user, run) — bounded by type
  * CHANGES, not event volume; each fold is the same one-exchange
  * gaps-and-islands the batch operator runs, over the batch plus the
  * bounded store.
  */
object StreamScd2 {

  def start(newRows: DataFrame, storeDir: String, checkpointDir: String): StreamingQuery =
    VersionedStore.start(newRows, checkpointDir)(foldBatch(_, _, storeDir))

  /** The per-batch fold, exposed so ReplaySpec can deliver the same
    * (batch, batchId) twice and assert the store unchanged. */
  def foldBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit =
    VersionedStore.fold(batch, batchId, storeDir)(b => Relational.scd2Runs(
      Relational.normalizeEventTs(b).select("user_id", "ts", "event_id", "event_type")))(
      Relational.scd2MergeRuns)

  /** The SCD2 dimension over everything the store has seen — the batch
    * operator's interval body, verbatim, over the newest version. */
  def intervals(spark: SparkSession, storeDir: String): DataFrame =
    Relational.scd2RunsToIntervals(
      VersionedStore.read(spark, storeDir, "scd2")
        .select("user_id", "event_type", "first_ts", "first_eid", "n_events"))
}
