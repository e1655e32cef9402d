package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ParquetSource

/** Streaming pipeline-health MONITOR — the online form of
  * `events_anomaly_mad`: each micro-batch folds its (event_type, hour)
  * counts into a persisted, VERSIONED count store (the
  * [[StreamSketch]] layout), and `flags()` reads the newest version
  * through the SHARED `Relational.anomalyFromCounts` body — so the
  * median/MAD flags a dashboard polls are always computed by exactly the
  * batch operator's arithmetic over everything seen so far.
  *
  * Replay safety: hourly counts are plain sums (NOT idempotent under
  * re-merge, unlike HLL), so safety rests entirely on the versioned
  * layout — a re-delivered batch N rebuilds `v<N>` FROM
  * `v<latest < N>`, never from its own failed half-write, so each
  * batch's rows enter the totals exactly once (the KLL argument in
  * [[StreamSketch]], which this store reuses verbatim).
  *
  * Scale: store rows ∝ |types| × calendar hours — bounded by the
  * CALENDAR, never event volume; the per-batch merge is one
  * map-combined aggregate over (type, hour) keys.
  */
object StreamMonitor {

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

  /** The per-batch fold, exposed so ReplaySpec can double-deliver a batch
    * and assert the count store unchanged (counts are plain sums — the
    * versioned layout is the whole replay-safety story here). */
  def foldBatch(batch: DataFrame, batchId: Long, storeDir: String,
      keepVersions: Int = 2): Unit = {
    VersionedStore.requireReplaySafe(keepVersions)
    val spark = batch.sparkSession
    VersionedStore.requireOwnership(spark, storeDir, batchId)
    // schema-dispatched no-op on proper timestamps; the StreamScd2 fold
    // already normalizes internally — same contract here, so a caller
    // streaming raw nanos-as-long events cannot silently mis-bucket
    val newCounts = graft.operators.Relational.normalizeEventTs(batch)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val merged = VersionedStore.latestVersion(spark, storeDir, below = Some(batchId)) match {
      case Some(prev) =>
        ParquetSource.read(spark, prev).select("event_type", "hour", "n")
          .union(newCounts)
          .groupBy("event_type", "hour")
          .agg(sum("n").as("n"))
      case None => newCounts
    }
    merged.write.mode("overwrite").parquet(s"$storeDir/v$batchId")
    VersionedStore.prune(spark, storeDir, keepVersions)
  }

  /** Median/MAD anomaly flags over everything the store has seen —
    * the batch operator's body, verbatim, over the newest version.
    */
  def flags(spark: SparkSession, storeDir: String): DataFrame =
    graft.operators.Relational.anomalyFromCounts(
      ParquetSource.read(spark, latest(spark, storeDir)).select("event_type", "hour", "n"))

  /** Exact integer EWMA over the same store (r10) — the batch
    * `events_ewma` fold body
    * ([[graft.operators.Relational.ewmaFromCounts]]), verbatim, over the
    * newest version: because the store's (type, hour) counts equal the
    * global counts whenever batches partition the feed, the streaming
    * smoothed value is BIT-equal to the batch operator's
    * (StreamStateBoundSpec pins it across 3 deliveries).
    */
  def ewma(spark: SparkSession, storeDir: String): DataFrame =
    graft.operators.Relational.ewmaFromCounts(
      ParquetSource.read(spark, latest(spark, storeDir))
        .select(col("event_type"), col("hour"), col("n").as("y")))

  /** Densified + gap-filled hourly series over the same store — the batch
    * `events_gapfill` body ([[graft.operators.Relational.gapfillFromCounts]]),
    * verbatim, over the newest version.
    */
  def filled(spark: SparkSession, storeDir: String): DataFrame =
    graft.operators.Relational.gapfillFromCounts(
      ParquetSource.read(spark, latest(spark, storeDir)).select("event_type", "hour", "n"))

  private def latest(spark: SparkSession, storeDir: String): String =
    VersionedStore.latestOrFail(spark, storeDir, "monitor")
}
