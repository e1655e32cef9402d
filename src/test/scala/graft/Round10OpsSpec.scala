package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TextAnalysis}

/** Specs for the round-10 training-pipeline additions (their DuckDB
  * oracles are the bit-exact gate; these pin the CONTRACT properties).
  */
class Round10OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("hard negatives honor the band: disjoint from the near-dup zone, ranks contiguous") {
    val hn = Similarity.hardNegatives(spark, dir, lo = 0.1, hi = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(hn.nonEmpty)
    // ranks are 1..k per query with no gaps
    hn.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // band membership: every mined pair's true cosine sits in [0.1, 0.3)
    // — the false-negative poisoning guard, checked against independent
    // arithmetic (plain SQL aggregate, not the operator's expressions)
    graft.functions.GraftFunctions.register(spark)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding",
        "sqrt(aggregate(embedding, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))" +
          " AS norm")
    val cosOf = hn.map { case (q, nId, _) => (q, nId) }.toSet
    val cosines = e.as("a").join(e.as("b"), lit(true))
      .filter(col("a.vec_id") < 5)
      .select(col("a.vec_id").as("q"), col("b.vec_id").as("n"),
        (expr("aggregate(zip_with(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)") /
          (col("a.norm") * col("b.norm"))).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    cosOf.foreach { p =>
      val c = cosines(p)
      assert(c >= 0.1 - 1e-9 && c < 0.3 + 1e-9, s"pair $p cosine $c outside the mining band")
    }
    // empty band rejected
    intercept[IllegalArgumentException](Similarity.hardNegatives(spark, dir, lo = 0.3, hi = 0.3))
  }

  test("IVF-PQ append: frozen-model encode composes the store without touching the base rows") {
    import org.apache.spark.sql.functions.col
    val store = java.nio.file.Files.createTempDirectory("r10-append").toString
    try {
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val splitId = n * 9 / 10
      Similarity.writeIvfPqIndexFiltered(spark, dir, store, col("vec_id") < splitId)
      val baseCoded = spark.read.parquet(s"$store/coded.parquet")
        .collect().map(r => r.getLong(0) -> ((r.get(1), r.getSeq[Int](2)))).toMap
      val baseBooks = spark.read.parquet(s"$store/codebooks.parquet").collect()
        .map(_.toString).sorted.toSeq
      Similarity.appendToIvfPqIndex(spark, dir, store, col("vec_id") >= splitId)
      val after = spark.read.parquet(s"$store/coded.parquet")
        .collect().map(r => (r.getLong(0), r.get(1), r.getSeq[Int](2)))
      // every vector coded exactly once; base rows byte-unchanged
      assert(after.length == n, "append must cover exactly the new vectors")
      assert(after.map(_._1).distinct.length == n)
      after.filter(_._1 < splitId).foreach { case (id, cell, codes) =>
        assert(baseCoded(id) == ((cell, codes)), s"append mutated base row $id")
      }
      // quantizer models frozen: codebooks identical after the append
      val afterBooks = spark.read.parquet(s"$store/codebooks.parquet").collect()
        .map(_.toString).sorted.toSeq
      assert(afterBooks == baseBooks, "append must never retrain")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  test("streaming ANN ingest: stream == batch append, replay-safe, query sees the increments") {
    import org.apache.spark.sql.functions.col
    val store = java.nio.file.Files.createTempDirectory("r10-stream-ann").toString
    try {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      val splitId = n * 9 / 10
      Similarity.writeIvfPqIndexFiltered(spark, dir, store, col("vec_id") < splitId)

      // deliver the newest 10% in two batches through the shared fold body
      val newVecs = emb.filter(col("vec_id") >= splitId).select("vec_id", "embedding")
      val mid = splitId + (n - splitId) / 2
      graft.streaming.StreamAnnIngest.foldBatch(newVecs.filter(col("vec_id") < mid), 0L, store)
      graft.streaming.StreamAnnIngest.foldBatch(newVecs.filter(col("vec_id") >= mid), 1L, store)

      def composed() = Similarity.codedWithIncrements(spark, store)
        .collect().map(r => (r.getLong(0), r.get(1), r.getSeq[Int](2))).sortBy(_._1).toSeq
      val once = composed()
      assert(once.length == n, "composed store must cover the full corpus")

      // stream == batch: the increments encode exactly what the batch
      // append path would (shared encodeWithStoreModels body)
      val batchRows = Similarity.encodeWithStoreModels(newVecs, store)
        .collect().map(r => (r.getLong(0), r.get(1), r.getSeq[Int](2))).toSet
      val incRows = once.filter(_._1 >= splitId).toSet
      assert(incRows == batchRows, "streamed increments diverged from the batch append encode")

      // replay: re-delivering batch 1 rewrites its own directory, no dupes
      graft.streaming.StreamAnnIngest.foldBatch(newVecs.filter(col("vec_id") >= mid), 1L, store)
      assert(composed() == once, "re-delivered batch changed the composed store")

      // and the store query path sees the ingested vectors
      val res = Similarity.ivfPqTopKViaStoreWithIncrements(spark, dir, store)
      assert(res.count() > 0)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  test("ANN increments are listed through the store's file system, numeric ids only") {
    // A scheme only the session's Hadoop conf resolves: a java.io listing
    // sees no increments under it. A stray `vOLD` holds rows of its own,
    // so a listing that takes any `v*` name would count them.
    import spark.implicits._
    val scheme = SchemeLocalFileSystem.Scheme
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.$scheme.impl", classOf[SchemeLocalFileSystem].getName)
    hc.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    val local = java.nio.file.Files.createTempDirectory("ann-inc-fs").toString
    try {
      def coded(ids: Range) = ids.map(i => (i.toLong, i % 4, Seq(i % 7, i % 5))).toDF("vec_id", "cell", "codes")
      coded(0 until 10).write.parquet(s"$local/coded.parquet")
      coded(10 until 13).write.parquet(s"$local/increments/v0.parquet")
      coded(13 until 15).write.parquet(s"$local/increments/v1.parquet")
      coded(100 until 150).write.parquet(s"$local/increments/vOLD")
      val ids = Similarity.codedWithIncrements(spark, s"$scheme://$local")
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until 15L), ids)
    } finally {
      hc.unset(s"fs.$scheme.impl")
      hc.unset(s"fs.$scheme.impl.disable.cache")
      new scala.reflect.io.Directory(new java.io.File(local)).deleteRecursively()
    }
  }

  test("k-center coreset equals a driver brute-force greedy exactly") {
    import org.apache.spark.sql.functions.col
    // independent reference: collect the normalized corpus and run the
    // greedy loop in plain Scala with the same determinism rules (seed =
    // min id, farthest pick, lower id on distance ties)
    graft.functions.GraftFunctions.register(spark)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE) / " +
          "sqrt(aggregate(embedding, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nemb")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val k = 6
    var centers = Vector(vecs.head._1)
    val minDist = scala.collection.mutable.Map(vecs.map(v => v._1 -> (1.0 - dot(v._2, vecs.head._2))): _*)
    val byId = vecs.toMap
    var expected = Vector((1L, vecs.head._1))
    for (rank <- 2 to k) {
      val (farId, _) = minDist.toSeq.maxBy { case (id, d) => (d, -id) }
      expected :+= ((rank.toLong, farId))
      centers :+= farId
      vecs.foreach { case (id, v) =>
        minDist(id) = math.min(minDist(id), 1.0 - dot(v, byId(farId)))
      }
    }
    val got = Similarity.kCenterCoreset(spark, dir, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toVector
    assert(got == expected, s"greedy selection diverged: $got vs $expected")
  }

  test("shuffle shards: total cover, contiguous positions, partitioning-independent") {
    val out = TextAnalysis.shuffleShards(spark, dir, nShards = 4)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.count() == n, "every document gets exactly one (shard, pos)")
    // positions are 1..|shard| with no holes — a resumable curriculum
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("cnt"), max("pos").as("mx"), min("pos").as("mn"))
      .collect()
    assert(perShard.length == 4)
    perShard.foreach { r =>
      assert(r.getLong(3) == 1L && r.getLong(2) == r.getLong(1),
        s"shard ${r.get(0)}: positions must be contiguous 1..cnt")
    }
    // determinism ACROSS partition layouts: the order is a pure function
    // of content hash, so a different parallelism must not move one row
    val a = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val b = try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      TextAnalysis.shuffleShards(spark, dir, nShards = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a == b, "shuffle order drifted with partitioning")
  }
}
