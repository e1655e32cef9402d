package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.FreqItemsCheck.ItemsTracked

/** Streaming sketch rollup — per micro-batch, per-key sketch blobs (HLL,
  * KLL, theta or frequent items) are merged into a PERSISTED, VERSIONED
  * sketch store: the standing corpus-statistics artifact a 100 TB ingest
  * pipeline maintains ("distinct users / value quantiles per event type,
  * so far, updated as data lands") without ever re-scanning history. The
  * building blocks are Spark's DataSketches functions ([[exprsFor]]: a
  * sketch aggregate emits the batch's blobs, the matching union aggregate
  * folds them), the same ones the batch rollup rows use, so the streaming
  * path cannot drift from the batch rollup it composes.
  *
  * HLL, theta and KLL stores written by graft's own sketch aggregates
  * (before Spark's built-ins replaced them) hold the same DataSketches
  * serial forms and still read and fold. A frequent-items store from then
  * does not: `approx_top_k_accumulate` keeps a struct, not a bare blob.
  *
  * Replay safety: the store folds through [[VersionedStore.fold]], whose
  * scaladoc gives the argument; HLL and theta are safe by algebra as
  * well (see [[start]]).
  *
  * Scale: the store carries one compact blob per key (≤ ~2^lgK bytes each),
  * the per-batch merge shuffles (key, blob) pairs — state ∝ key cardinality,
  * never rows seen. The fold keeps the newest two versions, so a
  * long-running query does not accumulate history.
  */
object StreamSketch {

  /** (build-blob expr, store-merge-blob expr) per sketch kind. */
  private def exprsFor(kind: String, valCol: String): (String, String) = kind match {
    case "hll" => (s"hll_sketch_agg($valCol)", "hll_union_agg(sk)")
    case "kll" => (s"kll_sketch_agg_double($valCol)", "kll_merge_agg_double(sk)")
    case "theta" => (s"theta_sketch_agg($valCol)", "theta_union_agg(sk)")
    // freq merge adds counts (not idempotent, like KLL weights): replay
    // safety rests on the fold alone
    case "freq" => (s"approx_top_k_accumulate($valCol, $ItemsTracked)",
      s"approx_top_k_combine(sk, $ItemsTracked)")
    case other => throw new IllegalArgumentException(
      s"StreamSketch kind must be hll|kll|theta|freq, got $other")
  }

  /** Starts the rollup: `newRows` is a STREAMING frame; each micro-batch
    * folds the kind's sketch of `valCol` per `keyCol` into the store
    * ([[VersionedStore.fold]], whose replay argument covers every kind).
    *
    * Per kind: HLL and theta merges are also IDEMPOTENT (register maxima /
    * retained-hash-set union), so a re-merged batch could not change any
    * estimate anyway. KLL merge is not — re-merging the same blob inflates
    * the internal weight of its items — so KLL rests on the fold alone:
    * each batch's rows enter the lineage exactly once, and the KLL
    * rank-error bound (±1.65% at k=200, 99% conf) holds for every
    * published version regardless of merge order. That bound — not byte
    * equality — is KLL's guarantee under merge, and it is what the gates
    * assert.
    */
  def start(newRows: DataFrame, storeDir: String, checkpointDir: String,
      keyCol: String, valCol: String, kind: String = "hll"): StreamingQuery =
    VersionedStore.start(newRows, checkpointDir)(
      foldBatch(_, _, storeDir, keyCol, valCol, kind))

  /** The per-batch fold, exposed so the replay-safety claim is TESTABLE:
    * ReplaySpec delivers the same (batch, batchId) twice and asserts the
    * store unchanged.
    */
  def foldBatch(batch: DataFrame, batchId: Long, storeDir: String,
      keyCol: String, valCol: String, kind: String = "hll"): Unit = {
    val (buildExpr, mergeExpr) = exprsFor(kind, valCol)
    VersionedStore.fold(batch, batchId, storeDir)(
      _.groupBy(col(keyCol)).agg(expr(buildExpr).as("sk"))
    )(_.groupBy(col(keyCol)).agg(expr(mergeExpr).as("sk")))
  }

  /** Per-key distinct-count estimates from the newest store version
    * (HLL or theta stores).
    */
  def estimates(spark: SparkSession, storeDir: String, keyCol: String,
      kind: String = "hll"): DataFrame = {
    val estExpr = kind match {
      case "hll" => "hll_sketch_estimate(hll_union_agg(sk))"
      case "theta" => "theta_sketch_estimate(theta_union_agg(sk))"
      case other => throw new IllegalArgumentException(
        s"estimates() reads hll|theta stores, got $other — use quantiles() for kll")
    }
    VersionedStore.read(spark, storeDir, "sketch")
      .groupBy(col(keyCol))
      .agg(expr(estExpr).as("approx_distinct"))
  }

  /** Per-key heavy hitters from the newest version of a freq store. */
  def heavyHitters(spark: SparkSession, storeDir: String, keyCol: String,
      k: Int = 10): DataFrame =
    VersionedStore.read(spark, storeDir, "sketch")
      .groupBy(col(keyCol))
      .agg(expr(s"approx_top_k_estimate(approx_top_k_combine(sk, $ItemsTracked), $k)").as("top"))

  /** Per-key quantiles from the newest version of a KLL store. */
  def quantiles(spark: SparkSession, storeDir: String, keyCol: String,
      ranks: Seq[Double]): DataFrame = {
    val rankArr = ranks.map(r => s"${r}D").mkString("array(", ", ", ")")
    VersionedStore.read(spark, storeDir, "sketch")
      .groupBy(col(keyCol))
      .agg(expr(s"kll_sketch_get_quantile_double(kll_merge_agg_double(sk), $rankArr)").as("qs"))
  }
}
