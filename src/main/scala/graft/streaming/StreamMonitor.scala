package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming pipeline-health MONITOR — the online form of
  * `events_anomaly_mad`: each micro-batch folds its (event_type, hour)
  * counts into a persisted, VERSIONED count store (the
  * [[StreamSketch]] layout), and `flags()` reads the newest version
  * through the SHARED `Relational.anomalyFromCounts` body — so the
  * median/MAD flags a dashboard polls are always computed by exactly the
  * batch operator's arithmetic over everything seen so far.
  *
  * Replay safety: hourly counts are plain sums, not idempotent under
  * re-merge, so safety rests on [[VersionedStore.fold]] (its scaladoc
  * gives the argument).
  *
  * Scale: store rows ∝ |types| × calendar hours — bounded by the
  * CALENDAR, never event volume; the per-batch merge is one
  * map-combined aggregate over (type, hour) keys.
  */
object StreamMonitor {

  def start(newRows: DataFrame, storeDir: String, checkpointDir: String): StreamingQuery =
    VersionedStore.start(newRows, checkpointDir)(foldBatch(_, _, storeDir))

  /** The per-batch fold, exposed so ReplaySpec can double-deliver a batch
    * and assert the count store unchanged. */
  def foldBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit =
    // normalizeEventTs is a schema-dispatched no-op on proper timestamps;
    // the StreamScd2 fold normalizes too, so a caller streaming raw
    // nanos-as-long events cannot silently mis-bucket
    VersionedStore.fold(batch, batchId, storeDir)(b =>
      graft.operators.Relational.normalizeEventTs(b)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n")))(
      _.groupBy("event_type", "hour").agg(sum("n").as("n")))

  /** Median/MAD anomaly flags over everything the store has seen —
    * the batch operator's body, verbatim, over the newest version.
    */
  def flags(spark: SparkSession, storeDir: String): DataFrame =
    graft.operators.Relational.anomalyFromCounts(
      VersionedStore.read(spark, storeDir, "monitor").select("event_type", "hour", "n"))

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
      VersionedStore.read(spark, storeDir, "monitor")
        .select(col("event_type"), col("hour"), col("n").as("y")))

  /** Densified + gap-filled hourly series over the same store — the batch
    * `events_gapfill` body ([[graft.operators.Relational.gapfillFromCounts]]),
    * verbatim, over the newest version.
    */
  def filled(spark: SparkSession, storeDir: String): DataFrame =
    graft.operators.Relational.gapfillFromCounts(
      VersionedStore.read(spark, storeDir, "monitor").select("event_type", "hour", "n"))
}
