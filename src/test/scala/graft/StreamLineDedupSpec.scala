package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamLineDedup

/** The streaming boiler-count store's three contracts:
  *
  *   1. STREAM == BATCH — folding the corpus in uneven doc_id-prefix
  *      batches yields exactly the batch operator's boiler set, and
  *      cleaning the corpus against the store is row-identical to
  *      `lineDedupHashed` (and so to `lineDedup` / its oracle).
  *   2. REPLAY SAFETY — counts add (not idempotent), so the versioned
  *      layout must absorb a literal double delivery (the ReplaySpec
  *      protocol), and a NEW batch id must change counts (proving it is
  *      the layout, not the algebra, that saves us).
  *   3. INCREMENTALITY — a segment crosses the minDocs threshold only
  *      once its cumulative distinct-doc count does, even when the
  *      occurrences straddle batches.
  */
class StreamLineDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("stream==batch: prefix batches reproduce the batch boiler set and the batch clean output") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.agg(max("doc_id")).head().getLong(0)
    val cuts = Seq(n / 5, n / 2, n) // uneven prefixes
    val store = tmp("sld-store")
    var lo = -1L
    cuts.zipWithIndex.foreach { case (hi, i) =>
      val batch = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .select("doc_id", "text")
      StreamLineDedup.foldBatch(batch, i.toLong, store)
      lo = hi
    }
    // boiler set == the batch operator's hashed frequency cut
    graft.functions.GraftFunctions.register(spark)
    val batchBoiler = graft.operators.TextAnalysis
      .segmentsOf(docs.select("doc_id", "text"), 10)
      .withColumn("gh", graft.functions.Portable.polyHash60Native("seg"))
      .groupBy("gh").agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val storeBoiler = StreamLineDedup.boilerplate(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(storeBoiler == batchBoiler,
      s"store boiler diverged: ${storeBoiler.size} vs ${batchBoiler.size} entries")
    assert(storeBoiler.nonEmpty, "fixture must contain boilerplate")
    // cleaning against the store == the batch operator end to end
    val viaStore = StreamLineDedup.cleanWithStore(spark, dir, store)
      .collect().map(_.toString).sorted.toSeq
    val batchOut = graft.operators.TextAnalysis.lineDedupHashed(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStore == batchOut, "store-backed clean != batch operator")
  }

  test("replay: double-delivered batch leaves the store unchanged; a new id changes it") {
    import spark.implicits._
    val store = tmp("sld-replay")
    val b0 = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "a b c d e f g h i j"), (4L, "zz yy")).toDF("doc_id", "text")
    StreamLineDedup.foldBatch(b0, 0L, store)
    StreamLineDedup.foldBatch(b1, 1L, store)
    def state(): Seq[(Long, Long)] = StreamLineDedup.boilerplate(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val once = state()
    StreamLineDedup.foldBatch(b1, 1L, store) // the at-least-once event
    assert(state() == once, "store changed under replay")
    StreamLineDedup.foldBatch(b1, 2L, store) // NEW id: counts must move
    assert(state() != once, "a new batch id must change cumulative counts")
  }

  test("start() wiring: a real file-stream micro-batch lands a readable store version") {
    val store = tmp("sld-start")
    val ckpt = tmp("sld-start-ckpt")
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val newDocs = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .select("doc_id", "text")
    val q = StreamLineDedup.start(newDocs, store, ckpt)
    q.processAllAvailable()
    q.stop()
    assert(StreamLineDedup.boilerplate(spark, store).count() > 0,
      "streamed corpus must surface boilerplate")
  }

  test("incrementality: the threshold crossing happens at the cumulative count, across batches") {
    import spark.implicits._
    val store = tmp("sld-inc")
    val seg = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    StreamLineDedup.foldBatch(Seq((10L, seg)).toDF("doc_id", "text"), 0L, store)
    assert(StreamLineDedup.boilerplate(spark, store).count() == 0,
      "one occurrence must not be boilerplate")
    StreamLineDedup.foldBatch(Seq((11L, seg)).toDF("doc_id", "text"), 1L, store)
    val b = StreamLineDedup.boilerplate(spark, store).collect()
    assert(b.length == 1 && b.head.getLong(1) == 2L,
      s"second occurrence in a later batch must cross minDocs: ${b.toSeq}")
  }
}
