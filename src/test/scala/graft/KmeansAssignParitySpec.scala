package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The two k-means assignment forms (ADVICE r14): the literal/codegen
  * argmin (small k) and the broadcast-join argmin (large k) must be
  * BIT-identical at the same k — same seeds, same integer distances, same
  * (d, j) tie order, same trunc(Σq/n) updates — or the scale path would
  * silently change the oracle-pinned clustering. Also pins:
  *   - the automatic switchover past LiteralAssignMaxK;
  *   - `Materialize.inspect` building the plan with ZERO Spark jobs (the
  *     PlanSpec hint walker must not execute the clustering).
  */
class KmeansAssignParitySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  private def vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    .select("vec_id", "embedding")

  private def collectAssign(assignVia: String, k: Int, iters: Int): Seq[(Long, Long, Long)] =
    graft.operators.Dedup.kmeansMicroAssign(vecs, k, iters, assignVia = assignVia)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

  test("literal and join assignment are bit-identical at the same k (0, 1, 2 Lloyd iterations)") {
    for (iters <- Seq(0, 2)) {
      val lit = collectAssign("literal", 8, iters)
      val join = collectAssign("join", 8, iters)
      assert(lit == join, s"paths diverged at k=8 iters=$iters")
      assert(lit.nonEmpty && lit.map(_._2).distinct.size > 1, "fixture must spread clusters")
    }
  }

  test("auto mode switches to the join path past LiteralAssignMaxK and still partitions the corpus") {
    val k = graft.operators.Dedup.LiteralAssignMaxK + 8
    val out = collectAssign("auto", k, 1)
    assert(out.size == vecs.count())
    // seeds are the k smallest vec_ids, so with 500 vectors and k=72 most
    // clusters are singleton-seeded but every vector must be assigned
    assert(out.map(_._2).forall(c => c >= 0 && c < k))
  }

  test("literal mode refuses k past the codegen bound instead of compiling a giant expression") {
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.kmeansMicroAssign(
        vecs, graft.operators.Dedup.LiteralAssignMaxK + 1, 0, assignVia = "literal")
    }
    assert(e.getMessage.contains("literal assignment supports"))
  }

  test("kmeansKFor clamp matches the join path's supported range") {
    import graft.operators.Dedup.kmeansKFor
    assert(kmeansKFor(Long.MaxValue / 4) == (1 << 16))
    assert(kmeansKFor(4096L * 100) == 100)
    assert(kmeansKFor(1) == 1)
  }

  test("forPlanInspection builds the semdedup plan with zero Spark jobs") {
    // the parquet read (schema inference) may run its own job — build the
    // input BEFORE counting; the contract under test is semDeDupFrom's
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    base.schema // force analysis of the input outside the window
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.operators.Materialize.inspect(graft.operators.Dedup.semDeDupFrom(base))
      df.queryExecution.optimizedPlan // force analysis + optimization
      df.queryExecution.executedPlan.toString
      Thread.sleep(500) // listener bus is async; jobs (if any) post within ms
      assert(jobs == 0, s"plan inspection ran $jobs Spark job(s) — the seam must be action-free")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
