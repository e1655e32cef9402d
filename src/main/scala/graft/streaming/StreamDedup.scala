package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Materialize}

/** STREAMING incremental near-dup dedup — the real-time ingest shape of
  * [[graft.operators.Dedup.incrementalNearDups]]: a stream of new
  * documents is checked, micro-batch by micro-batch, against the PERSISTED
  * corpus signature store ([[graft.operators.Dedup.writeSignatureStore]])
  * and the corpus shingle arrays, emitting verified
  * (id_new, id_corpus, n_inter, jaccard) rows per batch.
  *
  * Shape: `foreachBatch` — each micro-batch is a normal DataFrame, so the
  * per-batch body IS the batch increment operator
  * ([[graft.operators.Dedup.incrementalNearDupsFrom]], shared code — the
  * contracts cannot drift), with the batch's bands and arrays BROADCAST
  * against the streaming corpus store. Candidate-pair `distinct()` is
  * per-batch (a stream-level distinct would need unbounded state for no
  * benefit: each batch's pairs are disjoint by id_new as long as each doc
  * arrives once, the file/queue source's usual contract).
  *
  * Scale: the corpus store streams through unshuffled per batch (bands are
  * 32 longs/doc); per-batch cost is the increment's size, not the
  * corpus's. StreamingSpec proves stream == batch across multi-batch
  * delivery.
  */
object StreamDedup {

  /** Starts the stream: `newDocs` is a STREAMING (doc_id, text) frame;
    * `sink` receives each micro-batch's verified near-dup pairs, called on
    * the driver with the batch id. foreachBatch is AT-LEAST-ONCE: after a
    * failure the same batchId can be re-delivered with the same pairs, so
    * a non-idempotent sink would double-count — sinks must dedup or
    * idempotify by batchId (the standard foreachBatch contract, e.g.
    * overwrite-by-batchId partitions or an idempotent upsert). The pairs
    * frame is valid only during the `sink` call: the batch's checkpoint is
    * released when it returns.
    */
  def start(newDocs: DataFrame, corpusArrays: DataFrame, corpusBands: DataFrame,
      threshold: Double, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    VersionedStore.start(newDocs, checkpointDir) { (batch, batchId) =>
      Materialize.releasing { m =>
        sink(Dedup.incrementalNearDupsFrom(m, batch, corpusArrays, corpusBands, threshold), batchId)
      }
    }
}
