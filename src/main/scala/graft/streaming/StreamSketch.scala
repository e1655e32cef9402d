package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ParquetSource

/** Streaming sketch rollup — per micro-batch, per-key sketch blobs (HLL,
  * KLL or theta, r9) are merged into a PERSISTED, VERSIONED sketch store:
  * the standing corpus-statistics artifact a 100 TB ingest pipeline
  * maintains ("distinct users / value quantiles per event type, so far,
  * updated as data lands") without ever re-scanning history. The
  * batch-side building blocks are the round-8 merge surface
  * (`graft_<kind>_sketch` to emit blobs, `graft_<kind>_merge_sketch` to
  * fold them), so the streaming path cannot drift from the batch rollup
  * it composes.
  *
  * Delivery semantics: foreachBatch is AT-LEAST-ONCE (a failed batch can be
  * re-delivered with the same batchId), but this sink is safe under replay
  * TWICE over:
  *   - by ALGEBRA — HLL union is idempotent (register-wise maxima), so
  *     merging the same batch's blob a second time cannot change any
  *     estimate, unlike a count- or sum-based sink;
  *   - by LAYOUT — each batch writes store version `v<batchId>` with
  *     overwrite from `v<latest < batchId>` + the batch, so re-running
  *     batch N deterministically rebuilds the same v<N> and readers always
  *     see a complete version, never a partial overwrite of the live store.
  *
  * Scale: the store carries one compact blob per key (≤ ~2^lgK bytes each),
  * the per-batch merge shuffles (key, blob) pairs — state ∝ key cardinality,
  * never rows seen. Old versions are pruned down to `keepVersions` so a
  * long-running query does not accumulate history.
  */
object StreamSketch {

  /** (build-blob expr, store-merge-blob expr) per sketch kind. */
  private def exprsFor(kind: String, valCol: String): (String, String) = kind match {
    case "hll" => (s"graft_hll_sketch($valCol)", "graft_hll_merge_sketch(sk)")
    case "kll" => (s"graft_kll_sketch($valCol)", "graft_kll_merge_sketch(sk)")
    case "theta" => (s"graft_theta_sketch($valCol)", "graft_theta_merge_sketch(sk)")
    // freq merge adds counts (not idempotent, like KLL weights): replay
    // safety rests on the versioned layout, argued below
    case "freq" => (s"graft_freq_sketch($valCol)", "graft_freq_merge_sketch(sk)")
    case other => throw new IllegalArgumentException(
      s"StreamSketch kind must be hll|kll|theta|freq, got $other")
  }

  /** Starts the rollup: `newRows` is a STREAMING frame; each micro-batch
    * folds `graft_<kind>_sketch(valCol)` per `keyCol` into the latest
    * store version and writes `storeDir/v<batchId>`.
    *
    * Replay-safety per kind: HLL and theta merges are IDEMPOTENT
    * (register maxima / retained-hash-set union), so a re-merged batch
    * cannot change any estimate. KLL merge is NOT layout-idempotent —
    * re-merging the same blob inflates the internal weight of its items —
    * but the versioned layout makes replay safe anyway: a re-delivered
    * batch N rebuilds `v<N>` FROM `v<latest < N>` (never from its own
    * failed half-write), so each batch's rows enter the lineage exactly
    * once and the KLL rank-error bound (±1.65% at k=200, 99% conf) holds
    * for every published version regardless of merge order. That bound —
    * not byte equality — is KLL's guarantee under merge, and it is what
    * the gates assert.
    */
  def start(newRows: DataFrame, storeDir: String, checkpointDir: String,
      keyCol: String, valCol: String, keepVersions: Int = 2,
      kind: String = "hll"): StreamingQuery = {
    VersionedStore.requireReplaySafe(keepVersions) // fail at setup, not batch 0
    newRows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, storeDir, keyCol, valCol, keepVersions, kind)
      }
      .start()
  }

  /** The per-batch fold, exposed so the replay-safety claim is TESTABLE:
    * delivering the same (batch, batchId) twice rebuilds the identical
    * `v<batchId>` from `v<latest < batchId>` — ReplaySpec calls this
    * literally twice and asserts the store unchanged.
    */
  def foldBatch(batch: DataFrame, batchId: Long, storeDir: String,
      keyCol: String, valCol: String, keepVersions: Int = 2,
      kind: String = "hll"): Unit = {
    VersionedStore.requireReplaySafe(keepVersions)
    val (buildExpr, mergeExpr) = exprsFor(kind, valCol)
    val spark = batch.sparkSession
    VersionedStore.requireOwnership(spark, storeDir, batchId)
    graft.functions.GraftFunctions.register(spark)
    val newBlobs = batch.groupBy(col(keyCol))
      .agg(expr(buildExpr).as("sk"))
    val merged = VersionedStore.latestVersion(spark, storeDir, below = Some(batchId)) match {
      case Some(prev) =>
        ParquetSource.read(spark, prev).select(col(keyCol), col("sk"))
          .union(newBlobs)
          .groupBy(col(keyCol))
          .agg(expr(mergeExpr).as("sk"))
      case None => newBlobs
    }
    merged.write.mode("overwrite").parquet(s"$storeDir/v$batchId")
    VersionedStore.prune(spark, storeDir, keepVersions)
  }

  /** Per-key distinct-count estimates from the newest store version
    * (HLL or theta stores).
    */
  def estimates(spark: SparkSession, storeDir: String, keyCol: String,
      kind: String = "hll"): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val estExpr = kind match {
      case "hll" => "graft_hll_merge(sk)"
      case "theta" => "graft_theta_merge_est(sk)"
      case other => throw new IllegalArgumentException(
        s"estimates() reads hll|theta stores, got $other — use quantiles() for kll")
    }
    ParquetSource.read(spark, latest(spark, storeDir))
      .groupBy(col(keyCol))
      .agg(expr(estExpr).as("approx_distinct"))
  }

  /** Per-key heavy hitters from the newest version of a freq store. */
  def heavyHitters(spark: SparkSession, storeDir: String, keyCol: String,
      k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    ParquetSource.read(spark, latest(spark, storeDir))
      .groupBy(col(keyCol))
      .agg(expr(s"graft_freq_merge_items(sk, $k)").as("top"))
  }

  /** Per-key quantiles from the newest version of a KLL store. */
  def quantiles(spark: SparkSession, storeDir: String, keyCol: String,
      ranks: Seq[Double]): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // 'D' suffix: a bare 0.5 parses as DECIMAL, which the rank-array
    // reader (toDoubleArray) rejects
    val rankArr = ranks.map(r => s"${r}D").mkString("array(", ", ", ")")
    ParquetSource.read(spark, latest(spark, storeDir))
      .groupBy(col(keyCol))
      .agg(expr(s"graft_kll_merge_quantiles(sk, $rankArr)").as("qs"))
  }

  private def latest(spark: SparkSession, storeDir: String): String =
    VersionedStore.latestOrFail(spark, storeDir, "sketch")
}
