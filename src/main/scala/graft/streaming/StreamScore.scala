package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis
import graft.sources.ParquetSource

/** STREAMING DSIR scoring — the train-offline / score-online deployment
  * shape: a model is trained ONCE on a frozen corpus snapshot
  * ([[graft.operators.TextAnalysis.writeDsirModel]], ≤ numBuckets rows of
  * parquet) and every micro-batch of newly-ingested documents is scored
  * against that FROZEN model — no retraining, no state, no dependence on
  * what earlier batches contained.
  *
  * Shape: `foreachBatch` — the per-batch body IS the batch apply operator
  * ([[graft.operators.TextAnalysis.dsirScoreAgainst]], shared code, so the
  * streaming scores cannot drift from the batch contract). The model
  * DataFrame is loaded once at start and broadcast into each batch's plan;
  * per-batch cost is proportional to the batch, never the corpus.
  *
  * foreachBatch is AT-LEAST-ONCE: a re-delivered batchId re-emits the same
  * deterministic scores (the model is frozen), so an overwrite-by-batchId
  * or upsert sink is exactly idempotent — the standard contract.
  */
object StreamScore {

  /** Starts the stream: `newDocs` is a STREAMING (doc_id, text, lang)
    * frame; `modelDir` holds [[TextAnalysis.writeDsirModel]]'s output;
    * `sink` receives each micro-batch's (doc_id, n_feats, logw_micronats)
    * rows with the batch id.
    */
  def start(spark: SparkSession, newDocs: DataFrame, modelDir: String,
      numBuckets: Int, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    graft.functions.GraftFunctions.register(spark)
    val cost = ParquetSource.read(spark, s"$modelDir/dsir_cost.parquet")
    VersionedStore.start(newDocs, checkpointDir) { (batch, batchId) =>
      sink(TextAnalysis.dsirScoreAgainst(batch, cost, numBuckets), batchId)
    }
  }
}
