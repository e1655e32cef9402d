package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Relational
import graft.sources.ParquetSource

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
  * Replay safety: run counts are plain sums (not idempotent under
  * re-merge), so safety rests on the versioned layout — a re-delivered
  * batch N rebuilds `v<N>` from `v<latest < N>`, never from its own
  * half-write (the [[StreamSketch]] argument, layout reused verbatim).
  *
  * Scale: the store holds one row per (user, run) — bounded by type
  * CHANGES, not event volume; each fold is the same one-exchange
  * gaps-and-islands the batch operator runs, over the batch plus the
  * bounded store.
  */
object StreamScd2 {

  def start(newRows: DataFrame, storeDir: String, checkpointDir: String,
      keepVersions: Int = 2): StreamingQuery = {
    VersionedStore.requireReplaySafe(keepVersions) // fail at setup, not batch 0
    newRows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, storeDir, keepVersions)
      }
      .start()
  }

  /** The per-batch fold, exposed so ReplaySpec can deliver the same
    * (batch, batchId) twice and assert the store unchanged — the
    * rebuild-from-prior-version argument, demonstrated. */
  def foldBatch(batch: DataFrame, batchId: Long, storeDir: String,
      keepVersions: Int = 2): Unit = {
    VersionedStore.requireReplaySafe(keepVersions)
    val spark = batch.sparkSession
    VersionedStore.requireOwnership(spark, storeDir, batchId)
    val newRuns = Relational.scd2Runs(Relational.normalizeEventTs(batch)
      .select("user_id", "ts", "event_id", "event_type"))
    val merged = VersionedStore.latestVersion(spark, storeDir, below = Some(batchId)) match {
      case Some(prev) =>
        Relational.scd2MergeRuns(
          ParquetSource.read(spark, prev)
            .select("user_id", "event_type", "first_ts", "first_eid", "n_events")
            .union(newRuns))
      case None => newRuns
    }
    merged.write.mode("overwrite").parquet(s"$storeDir/v$batchId")
    VersionedStore.prune(spark, storeDir, keepVersions)
  }

  /** The SCD2 dimension over everything the store has seen — the batch
    * operator's interval body, verbatim, over the newest version. */
  def intervals(spark: SparkSession, storeDir: String): DataFrame =
    Relational.scd2RunsToIntervals(
      ParquetSource.read(spark, VersionedStore.latestOrFail(spark, storeDir, "scd2"))
        .select("user_id", "event_type", "first_ts", "first_eid", "n_events"))
}
