package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ParquetSource

/** Streaming BOILERPLATE-COUNT store — the ingest half of corpus-level
  * line dedup ([[graft.operators.TextAnalysis.lineDedup]]) run as data
  * lands: per micro-batch, each document's aligned segments fold into a
  * persisted, versioned `(gh → distinct-doc count)` table keyed on the
  * 60-bit segment fingerprint (the `text_line_dedup_hashed` convention —
  * no segment text in any store or shuffle). A segment whose CUMULATIVE
  * count reaches `minDocs` is boilerplate; readers get the current boiler
  * set ([[boilerplate]]) or clean the standing corpus against it
  * ([[cleanWithStore]]) without ever re-counting history.
  *
  * Additivity: each document arrives WHOLE in one batch row, so per-batch
  * distinct-doc counts are over disjoint doc sets and ADD across batches —
  * the cumulative sum is exactly the all-data `countDistinct(doc_id)`.
  * Counts are NOT merge-idempotent (the freq/KLL situation), so replay
  * safety rests on [[VersionedStore.fold]] (its scaladoc gives the
  * argument; double delivery is pinned in StreamLineDedupSpec).
  *
  * Scale: store size ∝ DISTINCT segments (8-byte key + count), never rows
  * seen; the per-batch fold shuffles (gh, partial distinct) pairs — at
  * 100 TB/day this is the standing artifact a nightly C4-style clean
  * reads instead of re-scanning the corpus for frequencies.
  */
object StreamLineDedup {

  def start(newDocs: DataFrame, storeDir: String, checkpointDir: String,
      segWords: Int = 10): StreamingQuery =
    VersionedStore.start(newDocs, checkpointDir)(foldBatch(_, _, storeDir, segWords))

  /** The per-batch fold, exposed so replay safety and stream==batch are
    * testable without a streaming harness.
    */
  def foldBatch(batch: DataFrame, batchId: Long, storeDir: String,
      segWords: Int = 10): Unit =
    VersionedStore.fold(batch, batchId, storeDir) { b =>
      graft.functions.GraftFunctions.register(b.sparkSession)
      graft.operators.TextAnalysis.segmentsOf(b.select("doc_id", "text"), segWords)
        .withColumn("gh", graft.functions.Portable.polyHash60Native("seg"))
        .groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
    }(_.groupBy("gh").agg(sum("n_docs").as("n_docs")))

  /** The current boiler set: fingerprints seen in ≥ `minDocs` distinct
    * documents so far.
    */
  def boilerplate(spark: SparkSession, storeDir: String,
      minDocs: Long = 2): DataFrame =
    VersionedStore.read(spark, storeDir, "line-dedup")
      .filter(col("n_docs") >= minDocs)
      .select(col("gh"), col("n_docs").cast("bigint").as("n_docs"))

  /** Cleans a standing corpus against the store — the same mark-then-
    * aggregate body as [[graft.operators.TextAnalysis.lineDedupHashed]],
    * with the frequency count read from the store instead of recomputed.
    * When the store has absorbed exactly the corpus, the output is
    * row-identical to the batch operator (StreamLineDedupSpec pins it).
    */
  def cleanWithStore(spark: SparkSession, dir: String, storeDir: String,
      segWords: Int = 10, minDocs: Long = 2): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val segs = graft.operators.TextAnalysis
      .segmentsOf(ParquetSource.read(spark, s"$dir/documents.parquet"), segWords)
      .withColumn("gh", graft.functions.Portable.polyHash60Native("seg"))
    val boiler = boilerplate(spark, storeDir, minDocs)
      .select(col("gh"), lit(true).as("is_boiler"))
    segs.join(boiler, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("is_boiler").isNull, 1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN is_boiler IS NULL THEN struct(pos, seg) END)), s -> s.seg), ' ')")
          .as("clean_text"))
      .select(
        col("doc_id"),
        col("n_segments"),
        col("n_kept"),
        (col("n_segments") - col("n_kept")).as("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
  }

}
