package graft

import org.scalatest.funsuite.AnyFunSuite

/** Replay-safety DEMONSTRATED, not argued: foreachBatch is at-least-once,
  * so every versioned store must absorb a literal double delivery of the
  * same (batch, batchId). These tests call the extracted `foldBatch`
  * bodies twice and assert the published state is unchanged.
  *
  * Horizon note: a replayed batch rebuilds `v<id>` from `v<latest < id>`,
  * so the store must still hold that prior version. The fold keeps the
  * newest 2 versions, so the replay horizon is fixed at one batch, which
  * covers foreachBatch's actual behavior (only the most recent
  * uncommitted batch is ever re-delivered).
  */
class ReplaySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("r9: sketch store (hll + freq): double-delivered batch leaves estimates unchanged") {
    import spark.implicits._
    for (kind <- Seq("hll", "freq")) {
      val store = tmp(s"replay-$kind")
      val b0 = Seq(("a", "x"), ("a", "y"), ("b", "x")).toDF("k", "v")
      val b1 = Seq(("a", "y"), ("a", "z"), ("b", "x"), ("b", "x")).toDF("k", "v")
      graft.streaming.StreamSketch.foldBatch(b0, 0L, store, "k", "v", kind = kind)
      graft.streaming.StreamSketch.foldBatch(b1, 1L, store, "k", "v", kind = kind)
      def state(): Seq[String] = (kind match {
        case "hll" => graft.streaming.StreamSketch.estimates(spark, store, "k")
        case _ => graft.streaming.StreamSketch.heavyHitters(spark, store, "k")
      }).collect().map(_.toString).sorted.toSeq
      val once = state()
      // the at-least-once event: batch 1 re-delivered with the SAME id
      graft.streaming.StreamSketch.foldBatch(b1, 1L, store, "k", "v", kind = kind)
      assert(state() == once, s"$kind store changed under replay")
      // freq counts are NOT idempotent under naive re-merge: prove the
      // layout (not the algebra) is what saved us, by folding the same
      // data as a NEW batch id and watching counts double
      if (kind == "freq") {
        graft.streaming.StreamSketch.foldBatch(b1, 2L, store, "k", "v", kind = kind)
        assert(state() != once, "a NEW batch id must change freq counts")
      }
    }
  }

  test("r9: scd2 run store: double-delivered batch leaves the dimension unchanged") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val store = tmp("replay-scd2")
    val b0 = Seq((1L, ts(0), 1L, "A", 0.0, "{}"), (2L, ts(1), 1L, "A", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val b1 = Seq((3L, ts(2), 1L, "B", 0.0, "{}"), (4L, ts(3), 2L, "C", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    graft.streaming.StreamScd2.foldBatch(b0, 0L, store)
    graft.streaming.StreamScd2.foldBatch(b1, 1L, store)
    def dim(): Seq[String] = graft.streaming.StreamScd2.intervals(spark, store)
      .collect().map(_.toString).sorted.toSeq
    val once = dim()
    graft.streaming.StreamScd2.foldBatch(b1, 1L, store)
    assert(dim() == once, "scd2 dimension changed under replay")
    // run counts are sums: the same events under a NEW id would double-count
    graft.streaming.StreamScd2.foldBatch(b1, 2L, store)
    assert(dim() != once, "a NEW batch id must change run counts")
  }

  test("r9: monitor count store: double-delivered batch leaves counts unchanged") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val store = tmp("replay-monitor")
    val b0 = Seq((ts(0), "click"), (ts(1), "click")).toDF("ts", "event_type")
    val b1 = Seq((ts(2), "click"), (ts(3), "view")).toDF("ts", "event_type")
    graft.streaming.StreamMonitor.foldBatch(b0, 0L, store)
    graft.streaming.StreamMonitor.foldBatch(b1, 1L, store)
    def counts(): Seq[String] = spark.read
      .parquet(new java.io.File(store).listFiles().map(_.getName)
        .filter(_.startsWith("v")).map(n => s"$store/$n").max)
      .collect().map(_.toString).sorted.toSeq
    val once = counts()
    graft.streaming.StreamMonitor.foldBatch(b1, 1L, store)
    assert(counts() == once, "count store changed under replay")
    graft.streaming.StreamMonitor.foldBatch(b1, 2L, store)
    assert(counts() != once, "a NEW batch id must add counts")
  }
}
