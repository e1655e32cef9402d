package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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
    case "hll" => (s"graft_hll_sketch($valCol)", "graft_hll_merge_sketch(sk)")
    case "kll" => (s"graft_kll_sketch($valCol)", "graft_kll_merge_sketch(sk)")
    case "theta" => (s"graft_theta_sketch($valCol)", "graft_theta_merge_sketch(sk)")
    // freq merge adds counts (not idempotent, like KLL weights): replay
    // safety rests on the fold alone
    case "freq" => (s"graft_freq_sketch($valCol)", "graft_freq_merge_sketch(sk)")
    case other => throw new IllegalArgumentException(
      s"StreamSketch kind must be hll|kll|theta|freq, got $other")
  }

  /** Starts the rollup: `newRows` is a STREAMING frame; each micro-batch
    * folds `graft_<kind>_sketch(valCol)` per `keyCol` into the store
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
    VersionedStore.fold(batch, batchId, storeDir) { b =>
      graft.functions.GraftFunctions.register(b.sparkSession)
      b.groupBy(col(keyCol)).agg(expr(buildExpr).as("sk"))
    }(_.groupBy(col(keyCol)).agg(expr(mergeExpr).as("sk")))
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
    VersionedStore.read(spark, storeDir, "sketch")
      .groupBy(col(keyCol))
      .agg(expr(estExpr).as("approx_distinct"))
  }

  /** Per-key heavy hitters from the newest version of a freq store. */
  def heavyHitters(spark: SparkSession, storeDir: String, keyCol: String,
      k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    VersionedStore.read(spark, storeDir, "sketch")
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
    VersionedStore.read(spark, storeDir, "sketch")
      .groupBy(col(keyCol))
      .agg(expr(s"graft_kll_merge_quantiles(sk, $rankArr)").as("qs"))
  }
}
