package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Runs every catalog row once at the test fixture and checks that it left
  * nothing behind: no persisted RDD beyond the checkpoints its own result
  * reads, no CacheManager entry, and no live `long[]` broadcast. The
  * operators hold their intermediates in `graft.operators.Materialize`
  * scopes; this is the catalog-wide check that they do. No row keeps
  * anything on purpose today; one that must would be exempted here, with
  * its reason.
  */
class CatalogLeakSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  private def cacheEntries: Int = org.apache.spark.sql.graft.CachedPlans.count(spark)

  test("no catalog row leaves a persisted RDD, a cached plan or a long[] broadcast") {
    val sc = spark.sparkContext
    val leaks = SparkEntry.queries.keySet.toSeq.sorted.flatMap { row =>
      val (rdds, entries) = (sc.getPersistentRDDs.keySet, cacheEntries)
      val arrays = org.apache.spark.graft.LiveBroadcasts.ofLongArrays()
      val own = try {
        val out = SparkEntry.queries(row)(spark, dir)
        out.count()
        out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
      } catch { case NonFatal(e) => fail(s"$row failed: $e", e) }
      val kept = sc.getPersistentRDDs.keySet -- rdds -- own
      val cached = cacheEntries - entries
      // broadcast removal is asynchronous
      val deadline = System.nanoTime() + 10000000000L
      while (!(org.apache.spark.graft.LiveBroadcasts.ofLongArrays() subsetOf arrays) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val live = org.apache.spark.graft.LiveBroadcasts.ofLongArrays() -- arrays
      (sc.getPersistentRDDs.keySet -- rdds).foreach(id => sc.getPersistentRDDs(id).unpersist(true))
      if (cached > 0) spark.catalog.clearCache()
      Seq(
        if (kept.nonEmpty) Some(s"$row: ${kept.size} persisted RDD(s) beyond its result") else None,
        if (cached > 0) Some(s"$row: $cached CacheManager entr(y/ies)") else None,
        if (live.nonEmpty) Some(s"$row: ${live.size} live long[] broadcast(s)") else None).flatten
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
