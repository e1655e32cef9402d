package graft

import org.apache.spark.graft.LiveBroadcasts
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** A host-robust budget for the array superstep rows: Spark jobs, stages
  * and shuffle-write bytes per catalog query (collected, as the benchmark
  * runs it) at sf0.001, counted by [[Probe.Meter]]. Wall time moves with the
  * host; these counts move only when the plan does. A row over budget has
  * gained a job — a degree join, a cache fill, a result checkpoint — or an
  * exchange, such as a distinct ahead of the edge blocks; and the run must
  * leave no new persisted RDD and no live `long[]` broadcast behind.
  */
class GraphBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** row -> (max jobs, max stages, max shuffle-write bytes), as measured on
    * the array engine; the byte caps are the measured 55,710 (plain) and
    * 54,208 (skew) bytes plus 10%. */
  private val budget = Seq(
    "graph_pagerank" -> (9, 9, 61281L),
    "graph_pagerank_skew" -> (9, 9, 59629L),
    "graph_components" -> (7, 7, 61281L),
    "graph_components_skew" -> (7, 7, 59629L))

  test("the superstep rows stay within their job and stage budget and leave nothing behind") {
    val sc = spark.sparkContext
    val meter = new Probe.Meter
    sc.addSparkListener(meter)
    try for ((row, (maxJobs, maxStages, maxShuffleWrite)) <- budget) {
      val run = () => SparkEntry.queries(row)(spark, SparkSpec.testDataDir).collect()
      run() // compiles the query shape once, as the benchmark's warm pass does
      val cached = sc.getPersistentRDDs.keySet
      val arrays = LiveBroadcasts.ofLongArrays()
      val c = meter.measure(run())._2
      info(s"$row: ${c.jobs} jobs, ${c.stages} stages, ${c.tasks} tasks, " +
        s"${c.shuffleWriteBytes} shuffle-write bytes")
      assert(c.jobs <= maxJobs && c.stages <= maxStages,
        s"$row: ${c.jobs} jobs (budget $maxJobs), ${c.stages} stages (budget $maxStages)")
      assert(c.shuffleWriteBytes <= maxShuffleWrite,
        s"$row: ${c.shuffleWriteBytes} shuffle-write bytes (budget $maxShuffleWrite)")
      assert(sc.getPersistentRDDs.keySet == cached, s"$row left a persisted RDD")
      // broadcast removal is asynchronous
      val deadline = System.nanoTime() + 10000000000L
      while (!(LiveBroadcasts.ofLongArrays() subsetOf arrays) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(LiveBroadcasts.ofLongArrays() subsetOf arrays, s"$row left a long[] broadcast live")
    } finally sc.removeSparkListener(meter)
  }
}
