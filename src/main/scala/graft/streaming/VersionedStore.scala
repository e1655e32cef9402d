package graft.streaming

import java.util.regex.Pattern

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.ParquetSource

/** The micro-batch replay protocol of the streaming stores, in one place:
  * the ownership guard, the fold onto the version below the batch, the
  * `v<batchId>` write, the prune, the newest-version read, and the one
  * `foreachBatch` start every streaming sink in the package goes through.
  * Two layouts share one listing: a store's `storeDir/v<id>` versions
  * ([[StreamSketch]], [[StreamMonitor]], [[StreamScd2]],
  * [[StreamLineDedup]]) and an ANN store's streamed
  * `storeDir/increments/v<id>.parquet` ([[StreamAnnIngest]]). The r15
  * streaming deep-read found per-store copies of the listing and guards
  * that had already drifted (two lost the non-numeric-name guard and
  * would crash on a stray `v*` directory), so there are no copies.
  */
private[graft] object VersionedStore {

  /** Versions a fold leaves behind: the one it wrote and the one below it.
    * foreachBatch re-delivers only the last uncommitted batch, and that
    * re-delivery folds onto the version below it, so one older version is
    * all replay needs. Keeping one would prune it the moment the batch's
    * own version lands.
    */
  private val Kept = 2

  /** Where a layout's version `id` lives, and the names its listing reads. */
  private final case class Layout(dir: String, suffix: String) {
    def path(id: Long): String = s"$dir/v$id$suffix"
    val name = s"v(\\d+)${Pattern.quote(suffix)}".r
  }
  private def versions(storeDir: String) = Layout(storeDir, "")
  private def increments(storeDir: String) = Layout(s"$storeDir/increments", ".parquet")

  /** Folds one micro-batch into the store: checks ownership, then writes
    * `merge(prev ∪ fresh(batch))` to `v<batchId>` by overwrite, where
    * `prev` is the newest version below `batchId` (or just `fresh(batch)`
    * when there is none), then prunes to the newest [[Kept]].
    *
    * Replay safety: foreachBatch is AT-LEAST-ONCE — a batch whose query
    * died after this write and before the checkpoint commit is
    * re-delivered with the same batchId. The re-delivery folds onto the
    * version BELOW its id, never onto its own half-written `v<batchId>`,
    * and overwrites that version, so each batch's rows enter the lineage
    * exactly once and the store is the same as after one delivery. That
    * holds whether or not `merge` is idempotent: sums and KLL or freq
    * sketches are not, HLL and theta unions are. Readers see only
    * complete versions ([[read]] takes the newest).
    */
  def fold(batch: DataFrame, batchId: Long, storeDir: String)(fresh: DataFrame => DataFrame)(
      merge: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val at = versions(storeDir)
    val below = owned(spark, at, batchId).filter(_ < batchId).lastOption
    val now = fresh(batch)
    below.fold(now)(id =>
      merge(ParquetSource.read(spark, at.path(id)).select(now.columns.map(col): _*).union(now)))
      .write.mode("overwrite").parquet(at.path(batchId))
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ids(spark, at).dropRight(Kept).foreach(id => fs.delete(new Path(at.path(id)), true))
  }

  /** Writes one micro-batch as the increment `increments/v<batchId>.parquet`
    * by overwrite, after the ownership check. Appends are not idempotent,
    * so a re-delivered batch rewrites its own increment rather than adding
    * its rows twice.
    */
  def append(batch: DataFrame, batchId: Long, storeDir: String)(
      increment: DataFrame => DataFrame): Unit = {
    val at = increments(storeDir)
    owned(batch.sparkSession, at, batchId)
    increment(batch).write.mode("overwrite").parquet(at.path(batchId))
  }

  /** The store's newest version. */
  def read(spark: SparkSession, storeDir: String, what: String): DataFrame = {
    val at = versions(storeDir)
    ParquetSource.read(spark, at.path(ids(spark, at).lastOption.getOrElse(
      throw new IllegalStateException(s"no $what store versions under $storeDir"))))
  }

  /** Every streamed increment of an ANN store, oldest first. */
  def incrementPaths(spark: SparkSession, storeDir: String): Seq[String] = {
    val at = increments(storeDir)
    ids(spark, at).map(at.path)
  }

  /** Starts `stream` as an append-mode query that hands each micro-batch
    * and its id to `body`. `trigger` defaults to Spark's own default.
    */
  def start(stream: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** The layout's version ids, after failing fast when one is NEWER than
    * the batch about to land — the signature of a query restarted with a
    * FRESH checkpoint (batchIds restart at 0) pointed at an EXISTING store.
    * Without this guard the fold "succeeds": v0 rebuilds from nothing
    * (cumulative history silently dropped from the new lineage) and the
    * prune, which deletes the SMALLEST ids, then removes v0 itself, so
    * readers keep serving the stale old maximum; an increment would
    * overwrite a committed one with different rows. Equality is allowed:
    * a re-delivered batch rebuilding its own `v<batchId>` is the replay
    * contract, not a conflict.
    */
  private def owned(spark: SparkSession, at: Layout, batchId: Long): Seq[Long] = {
    val all = ids(spark, at)
    all.lastOption.foreach { maxId =>
      require(maxId <= batchId,
        s"store ${at.dir} already holds v$maxId > batch $batchId: this checkpoint does not " +
          "own the store (fresh checkpoint against an existing store?). Folding would drop " +
          "history or clobber a committed version — point the query at a new storeDir " +
          "or resume from the original checkpoint")
    }
    all
  }

  /** The numeric ids of the layout's `v<id><suffix>` directories,
    * ascending. Other names are ignored, not parsed: a stray `vOLD-backup`
    * must not crash the fold or join the store.
    */
  private def ids(spark: SparkSession, at: Layout): Seq[Long] = {
    val dir = new Path(at.dir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case at.name(id) => id.toLong }
      .sorted
  }
}
