package graft

import org.apache.datasketches.hll.{HllSketch, TgtHllType}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.theta.SetOperation
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamSketch

/** Persisted-sketch merge surface (Spark's DataSketches functions): blob
  * emit → parquet → read back → merge must lose no state — the cross-day
  * rollup contract. Small-cardinality
  * fixtures make HLL and theta EXACT, so the round trips here assert
  * equality with the true distinct counts, not just bounds; KLL asserts
  * its rank-bound guarantee (the only guarantee KLL gives under merge).
  */
class SketchMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("hll blob round trip: shard blobs through parquet merge to the one-pass answer") {
    val store = java.nio.file.Files.createTempDirectory("graft-hll-spec").toString
    try {
      spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("li")
      spark.sql(
        "SELECT l_returnflag, l_linenumber, hll_sketch_agg(l_returnflag || '-' || l_suppkey) AS sk " +
          "FROM li GROUP BY l_returnflag, l_linenumber")
        .write.mode("overwrite").parquet(s"$store/blobs.parquet")
      spark.read.parquet(s"$store/blobs.parquet").createOrReplaceTempView("blobs")
      val merged = spark.sql(
        "SELECT l_returnflag, hll_sketch_estimate(hll_union_agg(sk)) AS est " +
          "FROM blobs GROUP BY l_returnflag")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = spark.sql(
        "SELECT l_returnflag, count(DISTINCT l_returnflag || '-' || l_suppkey) AS d " +
          "FROM li GROUP BY l_returnflag")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(merged.keySet == exact.keySet)
      for ((flag, d) <- exact) {
        val est = merged(flag)
        assert(math.abs(est - d).toDouble <= 0.05 * d,
          s"$flag: merged est $est vs exact $d")
      }
    } finally {
      new scala.reflect.io.Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  test("theta blob round trip: merged union estimate is exact at small cardinality") {
    graft.operators.Relational.events(spark, dir).createOrReplaceTempView("ev")
    val store = java.nio.file.Files.createTempDirectory("graft-theta-spec").toString
    try {
      spark.sql(
        "SELECT event_type, to_date(ts) AS day, theta_sketch_agg(user_id) AS sk " +
          "FROM ev GROUP BY event_type, to_date(ts)")
        .write.mode("overwrite").parquet(s"$store/blobs.parquet")
      spark.read.parquet(s"$store/blobs.parquet").createOrReplaceTempView("tblobs")
      val merged = spark.sql(
        "SELECT event_type, theta_sketch_estimate(theta_union_agg(sk)) AS est " +
          "FROM tblobs GROUP BY event_type")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = spark.sql(
        "SELECT event_type, count(DISTINCT user_id) AS d FROM ev GROUP BY event_type")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // below the 2^12 nominal-entries retention a theta sketch is exact
      assert(merged == exact, s"merged=$merged exact=$exact")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  test("kll blob round trip: merged median honors the exact rank bounds") {
    val rows = graft.operators.Relational.kllStoreMergeCheck(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"q50 outside 45-55% rank bounds for ${r.getString(0)}")
    }
  }

  test("streaming sketch rollup across micro-batches == one-shot batch estimate == exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-stream-sketch").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-sketch-ckpt").toString
    try {
      // overlapping user sets across batches: a lossy merge double-counts,
      // a lost store version under-counts — both break the exact equality
      val b1 = (1 to 40).map(u => ("click", u.toLong)) ++ (1 to 10).map(u => ("buy", u.toLong))
      val b2 = (21 to 60).map(u => ("click", u.toLong)) ++ (5 to 15).map(u => ("buy", u.toLong))
      val mem = MemoryStream[(String, Long)]
      val q = StreamSketch.start(
        mem.toDF().toDF("event_type", "user_id"), store, ckpt, "event_type", "user_id")
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      val got = StreamSketch.estimates(spark, store, "event_type")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val all = (b1 ++ b2).toDF("event_type", "user_id")
      all.createOrReplaceTempView("ss_all")
      val oneShot = spark.sql(
        "SELECT event_type, hll_sketch_estimate(hll_sketch_agg(user_id)) FROM ss_all " +
          "GROUP BY event_type")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = Map("click" -> 60L, "buy" -> 15L)
      assert(got == oneShot, s"stream rollup $got != one-shot $oneShot")
      assert(got == exact, s"small-cardinality HLL should be exact: $got != $exact")
      // only the newest 2 store versions remain after pruning
      val versions = new java.io.File(store).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
      assert(versions.size <= 2 && versions.contains("v1"), s"versions=$versions")
    } finally {
      for (d <- Seq(store, ckpt))
        new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively()
    }
  }

  test("r9: streaming THETA rollup across overlapping micro-batches == one-shot == exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-stream-theta").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-theta-ckpt").toString
    try {
      val b1 = (1 to 40).map(u => ("click", u.toLong)) ++ (1 to 10).map(u => ("buy", u.toLong))
      val b2 = (21 to 60).map(u => ("click", u.toLong)) ++ (5 to 15).map(u => ("buy", u.toLong))
      val mem = MemoryStream[(String, Long)]
      val q = StreamSketch.start(
        mem.toDF().toDF("event_type", "user_id"), store, ckpt,
        "event_type", "user_id", kind = "theta")
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      q.stop()
      val got = StreamSketch.estimates(spark, store, "event_type", kind = "theta")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // theta union is idempotent AND exact below 2^12 retained entries
      assert(got == Map("click" -> 60L, "buy" -> 15L), s"got $got")
    } finally {
      for (d <- Seq(store, ckpt))
        new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively()
    }
  }

  test("r9: streaming KLL rollup — merged quantiles honor the exact rank bounds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-stream-kll").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-kll-ckpt").toString
    try {
      // two batches over one key: values 1..100 then 101..300 — the exact
      // combined distribution is known, so the 45-55% rank window for q50
      // is [135, 165] (KLL k=200 keeps rank error ~1.65% — well inside)
      val b1 = (1 to 100).map(v => ("a", v.toDouble))
      val b2 = (101 to 300).map(v => ("a", v.toDouble))
      val mem = MemoryStream[(String, Double)]
      val q = StreamSketch.start(
        mem.toDF().toDF("k", "v"), store, ckpt, "k", "v", kind = "kll")
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      q.stop()
      val qs = StreamSketch.quantiles(spark, store, "k", Seq(0.5))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      val q50 = qs("a").head
      assert(q50 >= 135.0 && q50 <= 165.0,
        s"q50=$q50 outside the exact 45-55% rank window [135, 165]")
    } finally {
      for (d <- Seq(store, ckpt))
        new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively()
    }
  }

  test("r9: streaming FREQ rollup — merged heavy hitters are exact below maxMapSize") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-stream-freq").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-freq-ckpt").toString
    try {
      // two batches, counts add across versions: a=30+20, b=10+15, c=0+5
      val b1 = List.fill(30)(("k", "a")) ++ List.fill(10)(("k", "b"))
      val b2 = List.fill(20)(("k", "a")) ++ List.fill(15)(("k", "b")) ++ List.fill(5)(("k", "c"))
      val mem = MemoryStream[(String, String)]
      val q = StreamSketch.start(
        mem.toDF().toDF("k", "v"), store, ckpt, "k", "v", kind = "freq")
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      q.stop()
      val top = StreamSketch.heavyHitters(spark, store, "k")
        .collect().map { r =>
          r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(t => (t.getString(0), t.getLong(1)))
        }.toMap
      assert(top("k") == Seq(("a", 50L), ("b", 25L), ("c", 5L)), s"$top")
    } finally {
      for (d <- Seq(store, ckpt))
        new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively()
    }
  }

  test("all three merge-check catalog rows come back all-true") {
    for ((name, boolIdx) <- Seq(
        ("sketch_hll_merge_check", 2), ("sketch_theta_merge_check", 2),
        ("sketch_freq_merge_check", 2))) {
      val rows = SparkEntry.queries(name)(spark, dir).collect()
      assert(rows.nonEmpty, name)
      rows.foreach(r => assert(r.getBoolean(boolIdx), s"$name: $r"))
    }
  }

  test("HLL, theta and KLL stores written by graft's own sketch aggregates still read and fold") {
    import spark.implicits._
    // v0 holds blobs in the serial forms graft's HLL, theta and KLL
    // aggregates wrote, built through the DataSketches calls they made
    def hllBlob(vs: Seq[Int]): Array[Byte] = {
      val s = new HllSketch(12, TgtHllType.HLL_8)
      vs.foreach(v => s.update(v.toLong))
      s.toCompactByteArray
    }
    def thetaBlob(vs: Seq[Int]): Array[Byte] = {
      val u = SetOperation.builder().setLogNominalEntries(12).buildUnion()
      vs.foreach(v => u.update(v.toLong))
      u.getResult(true, null).toByteArray
    }
    def kllBlob(vs: Seq[Int]): Array[Byte] = {
      val s = KllDoublesSketch.newHeapInstance(200)
      vs.foreach(v => s.update(v.toDouble))
      s.toByteArray
    }
    // the new batch overlaps the old users: a blob the built-ins misread or
    // hash differently double-counts, a dropped one under-counts
    val old = Seq("click" -> (1 to 40), "buy" -> (1 to 10))
    val fresh = (21 to 60).map(u => ("click", u)) ++ (5 to 15).map(u => ("buy", u))
    (old.flatMap { case (k, us) => us.map(k -> _) } ++ fresh).toDF("k", "v")
      .createOrReplaceTempView("old_store_all")
    val dirs = Seq.newBuilder[String]
    def foldOnto(kind: String, blob: Seq[Int] => Array[Byte], batch: DataFrame): String = {
      val store = java.nio.file.Files.createTempDirectory(s"graft-old-$kind").toString
      dirs += store
      old.map { case (k, us) => (k, blob(us)) }.toDF("k", "sk").write.parquet(s"$store/v0")
      StreamSketch.foldBatch(batch, 1L, store, "k", "v", kind)
      store
    }
    def byKey(df: DataFrame): Map[String, Any] = df.collect().map(r => r.getString(0) -> r.get(1)).toMap
    try {
      val longs = fresh.map { case (k, u) => (k, u.toLong) }.toDF("k", "v")
      for ((kind, blob) <- Seq("hll" -> hllBlob _, "theta" -> thetaBlob _)) {
        val got = byKey(StreamSketch.estimates(spark, foldOnto(kind, blob, longs), "k", kind))
        val onePass = byKey(spark.sql(
          s"SELECT k, ${kind}_sketch_estimate(${kind}_sketch_agg(CAST(v AS BIGINT))) " +
            "FROM old_store_all GROUP BY k"))
        assert(got == onePass, s"$kind: rollup over the old store $got != one-pass $onePass")
        assert(got == Map("click" -> 60L, "buy" -> 15L), s"$kind: small cardinality must be exact")
      }
      val doubles = fresh.map { case (k, u) => (k, u.toDouble) }.toDF("k", "v")
      val got = byKey(StreamSketch.quantiles(
        spark, foldOnto("kll", kllBlob _, doubles), "k", Seq(0.5, 0.9)))
      val onePass = byKey(spark.sql(
        "SELECT k, kll_sketch_get_quantile_double(kll_sketch_agg_double(CAST(v AS DOUBLE)), " +
          "array(0.5D, 0.9D)) FROM old_store_all GROUP BY k"))
      // below k = 200 items a KLL sketch has not compacted, so both are exact
      assert(got == onePass, s"kll: rollup over the old store $got != one-pass $onePass")
    } finally {
      dirs.result().foreach(d => new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively())
    }
  }
}
