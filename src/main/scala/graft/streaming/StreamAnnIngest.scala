package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** STREAMING ANN index ingest — the real-time shape of
  * [[graft.operators.Similarity.appendToIvfPqIndex]]: a stream of new
  * (vec_id, embedding) rows is encoded micro-batch by micro-batch with the
  * persisted index's FROZEN quantizer models and lands as a versioned
  * increment of the store. A reader composes `coded.parquet` with the
  * increments ([[graft.operators.Similarity.ivfPqTopKViaStoreWithIncrements]])
  * and sees every ingested vector without the index ever retraining.
  *
  * Replay safety: appends are NOT idempotent, so each batch lands as
  * `increments/v<batchId>.parquet` through [[VersionedStore.append]],
  * which overwrites: a re-delivered batch rewrites ITS OWN increment
  * instead of duplicating rows ([[VersionedStore.fold]] gives the replay
  * argument; ReplaySpec-style coverage in Round10OpsSpec).
  *
  * Scale: the per-batch body is one map-only encode (cell assignment +
  * PQ codes against driver-loaded models, ~16 output bytes per vector);
  * per-batch cost is the increment's size, never the corpus's. The
  * increment directories stay small and numerous — a nightly compaction
  * into `coded.parquet` (plain parquet rewrite) is the documented
  * maintenance step, exactly like any LSM-ish layout.
  */
object StreamAnnIngest {

  def start(newVecs: DataFrame, storeDir: String, checkpointDir: String): StreamingQuery =
    VersionedStore.start(newVecs, checkpointDir)(foldBatch(_, _, storeDir))

  /** The per-batch fold, exposed so tests can double-deliver a batch and
    * assert the composed store unchanged.
    */
  def foldBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit =
    VersionedStore.append(batch, batchId, storeDir)(Similarity.encodeWithStoreModels(_, storeDir))
}
