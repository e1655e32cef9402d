package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Materialize, Similarity}

/** The operator scope's contract: what it holds is released on exit, on
  * an exception too; a nested scope's result is released by the enclosing
  * scope; inspection runs nothing. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  private def cacheEntries: Int = org.apache.spark.sql.graft.CachedPlans.count(spark)

  /** Runs `body`, which must throw IllegalArgumentException, and asserts
    * that it left no persisted RDD and no CacheManager entry behind. */
  private def throwsAndLeavesNothing(body: => Any): Unit = {
    val sc = spark.sparkContext
    val (rdds, entries) = (sc.getPersistentRDDs.keySet, cacheEntries)
    intercept[IllegalArgumentException](body)
    assert(sc.getPersistentRDDs.keySet == rdds, "an RDD is still persisted")
    assert(cacheEntries == entries, "a CacheManager entry is left")
  }

  test("ivfTopK with an empty training sample throws and releases its caches") {
    throwsAndLeavesNothing(Similarity.ivfTopK(spark, dir, trainFraction = 0.0))
  }

  test("kmeansMicroAssign with more clusters than vectors throws and releases its cache") {
    val vectors = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") < 3)
    throwsAndLeavesNothing(Dedup.kmeansMicroAssign(vectors, k = 5, 1))
  }

  test("a scope checkpoints its result, and the enclosing scope releases a nested one") {
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.keySet
    var inner = scala.collection.Set.empty[Int]
    val out = Materialize { m =>
      val a = m.fill(spark.range(100).toDF("x"))
      val b = Materialize(_ => a.filter(col("x") % 2 === 0))
      inner = sc.getPersistentRDDs.keySet -- rdds
      assert(inner.size == 2) // the fill and the nested result
      b.select((col("x") + 1).as("y"))
    }
    val own = sc.getPersistentRDDs.keySet -- rdds
    assert(own.size == 1 && (own & inner).isEmpty)
    assert(out.count() == 50)
    own.foreach(id => sc.getPersistentRDDs(id).unpersist(true))
  }

  test("a driver-local result is returned as it is, with no job") {
    import spark.implicits._
    val local = Seq((1L, 2L)).toDF("a", "b")
    assert(Materialize(_ => local) eq local)
  }

  test("inspection caches nothing and returns the plan unexecuted") {
    val entries = cacheEntries
    val df = spark.range(10).toDF("x")
    val out = Materialize.inspect {
      Materialize { m =>
        assert(m.inspecting)
        m.fill(df).filter(col("x") > 3)
      }
    }
    assert(!Materialize.inspecting)
    assert(cacheEntries == entries)
    assert(out.queryExecution.logical.collect { case r: org.apache.spark.sql.execution.LogicalRDD => r }.isEmpty)
  }
}
