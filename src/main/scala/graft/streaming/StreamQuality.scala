package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming Gopher-rule quality filtering — the online half of the
  * crawl-ingest shape: documents arrive as a stream and each micro-batch
  * is scored through the SHARED
  * [[graft.operators.TextAnalysis.gopherRulesOn]] body (named per-rule
  * flags + composed `keep`), so the streaming path cannot drift from the
  * batch contract — the StreamScore/StreamDedup discipline applied to the
  * quality battery.
  *
  * Delivery semantics: the rule battery is a PURE PER-ROW function of the
  * batch — no state, no model, no watermark — so a re-delivered batchId
  * re-emits byte-identical rows and overwrite-by-batchId output dirs make
  * foreachBatch's at-least-once exactly-once for readers.
  *
  * Scale: map-only per batch (the batch analogue is exchange-free);
  * per-batch output lands in its own dir for idempotent retries.
  */
object StreamQuality {

  def start(newDocs: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedStore.start(newDocs, checkpointDir) { (batch, batchId) =>
      graft.operators.TextAnalysis.gopherRulesOn(batch)
        .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    }
}
