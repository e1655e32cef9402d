package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** State-GROWTH bounds for the r9 streaming operators (VERDICT r9 #5):
  * ReplaySpec proves idempotence under re-delivery; these tests pin the
  * other failure mode — a store that grows with BATCHES or EVENTS instead
  * of with its documented key space. Each test delivers ≥ 3 batches and
  * asserts (a) the versioned layout is pruned to 2 directories
  * and (b) the newest version's row count equals the operator's key bound
  * (users×runs for SCD2, types×hours for the monitor, distinct users for
  * the attribution state store), unchanged as more batches arrive.
  */
class StreamStateBoundSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def versionDirs(store: String): Seq[String] =
    new java.io.File(store).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).sorted

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("scd2 store stays bounded by (user, run) across 4 batches, versions pruned") {
    import spark.implicits._
    val store = tmp("bound-scd2")
    val users = 0L until 10L
    // each user keeps ONE event_type across all batches -> exactly one run
    // per user forever; only timestamps and event counts advance
    for (b <- 0 until 4) {
      val batch = users.flatMap { u =>
        (0 until 3).map(i => (b * 100L + u * 10 + i, ts(b, u.toInt * 5 + i),
          u, s"type_${u % 3}", 0.0, "{}"))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      graft.streaming.StreamScd2.foldBatch(batch, b.toLong, store)

      assert(versionDirs(store).size <= 2, s"versions not pruned: ${versionDirs(store)}")
      val rows = spark.read.parquet(s"$store/v$b").count()
      assert(rows == 10,
        s"batch $b: scd2 store has $rows rows; must stay == 10 runs (1/user), " +
          s"not grow with the ${(b + 1) * 30} delivered events")
    }
    // the dimension still reflects ALL events (n_events sums across batches)
    val dim = graft.streaming.StreamScd2.intervals(spark, store)
    assert(dim.count() == 10)
    assert(dim.agg(org.apache.spark.sql.functions.sum("n_events")).head().getLong(0) == 120L)
  }

  test("monitor count store stays bounded by (type, hour) across 4 batches, versions pruned") {
    import spark.implicits._
    val store = tmp("bound-monitor")
    // all batches land in the same 2 types x 2 hours grid
    for (b <- 0 until 4) {
      val batch = (0 until 20).map(i =>
        (ts((i / 2) % 2, i), s"type_${i % 2}", 1.0)).toDF("ts", "event_type", "value")
      graft.streaming.StreamMonitor.foldBatch(batch, b.toLong, store)

      assert(versionDirs(store).size <= 2, s"versions not pruned: ${versionDirs(store)}")
      val rows = spark.read.parquet(s"$store/v$b").count()
      assert(rows == 4,
        s"batch $b: monitor store has $rows rows; must stay == |types x hours| = 4, " +
          s"not grow with the ${(b + 1) * 20} delivered events")
    }
    // counts still accumulate: 4 batches x 20 events over 4 cells
    val total = spark.read.parquet(s"$store/v3")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == 80L)

    // r10: the streaming EWMA reader equals the batch fold over the
    // merged counts bit-for-bit (shared ewmaFromCounts body)
    val streamed = graft.streaming.StreamMonitor.ewma(spark, store)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Relational.ewmaFromCounts(
      spark.read.parquet(s"$store/v3")
        .selectExpr("event_type", "hour", "n AS y"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("sketch and line-dedup stores keep at most 2 versions across 4 batches") {
    import spark.implicits._
    val sketch = tmp("bound-sketch")
    val lines = tmp("bound-linededup")
    for (b <- 0 until 4) {
      val kv = (0 until 10).map(i => (s"k${i % 3}", s"v${b * 10 + i}")).toDF("k", "v")
      graft.streaming.StreamSketch.foldBatch(kv, b.toLong, sketch, "k", "v")
      val docs = (0 until 3).map(i => (b * 10L + i, s"doc $b line $i shared tail words here"))
        .toDF("doc_id", "text")
      graft.streaming.StreamLineDedup.foldBatch(docs, b.toLong, lines)
      for (store <- Seq(sketch, lines))
        assert(versionDirs(store) == Seq(s"v${math.max(b - 1, 0)}", s"v$b").distinct,
          s"versions not pruned: ${versionDirs(store)}")
    }
  }

  test("attribution flatMapGroupsWithState keeps one state row per user across 3 batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.AttrEvent

    val mem = MemoryStream[AttrEvent]
    val q = graft.streaming.EventStream.attributionStream(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_bound_out")
      .start()
    val users = 0L until 10L
    for (b <- 0 until 3) {
      mem.addData(users.flatMap(u => Seq(
        AttrEvent(u, b * 100L + u * 2, ts(b, u.toInt), "click"),
        AttrEvent(u, b * 100L + u * 2 + 1, ts(b, u.toInt + 30), "purchase"))))
      q.processAllAvailable()
    }
    val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
    q.stop()
    assert(stateRows.nonEmpty, "no state operator metrics reported")
    // 60 events / 30 purchases across 3 batches; the store must hold
    // exactly one ClickState per user, never a row per event or per batch
    assert(stateRows.max == 10,
      s"attribution state grew past the user count: $stateRows")
    // and every purchase got attributed to the user's latest click
    val out = spark.table("attr_bound_out")
    assert(out.count() == 30)
    assert(out.filter(org.apache.spark.sql.functions.col("click_id").isNull).count() == 0)
  }
}
