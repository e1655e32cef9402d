package graft

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Iterative graph family: PageRank and bounded BFS over the trade graph.
  * The driver oracle covers the real fixture; these specs pin the exact
  * integer recurrence on a hand-built graph where the interesting cases
  * (unreached nodes, hop-3 frontier, isolated nodes) actually occur —
  * sf0.01 is so dense every node is reached by hop 2.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** A 3-customer / 2-supplier path graph: c1—s1—c2—s2—c3, seed nation
    * holds only c1. Written as minimal parquet tables so the operator
    * runs its real scan path.
    */
  private lazy val pathDir: String = pathGraph(Nil, Nil)

  /** [[pathDir]] plus trades with endpoints outside the node set: order 4
    * names customer 0, which `customer` lacks, and trades with s2; order 3
    * also buys from supplier 0, which `supplier` lacks. Both strays have
    * the smallest ids (nodes 0 and 1), so a stray that leaked into the
    * recurrence would show in every component label.
    */
  private lazy val strayDir: String = pathGraph(Seq(4L -> 0L), Seq(4L -> 2L, 3L -> 0L))

  private def pathGraph(moreOrders: Seq[(Long, Long)], moreLines: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graphfx").toString
    // orders: order k by customer k; lineitem rows wire supplier trades
    (Seq((1L, 1L), (2L, 2L), (3L, 3L)) ++ moreOrders).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$tmp/orders.parquet")
    // s1 trades with c1,c2 (orders 1,2); s2 with c2,c3 (orders 2,3)
    (Seq((1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L)) ++ moreLines)
      .toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$tmp/lineitem.parquet")
    Seq((1L, 1), (2L, 2), (3L, 2), (4L, 3)) // c4 isolated, no orders
      .toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$tmp/customer.parquet")
    Seq((1L, 9), (2L, 9)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$tmp/supplier.parquet")
    Seq((1, "NATION_1"), (2, "NATION_2"), (9, "NATION_9"))
      .toDF("n_nationkey", "n_name")
      .write.parquet(s"$tmp/nation.parquet")
    tmp
  }

  test("r9: BFS hop levels on the path graph, including the unreached node") {
    val got = graft.operators.Graph.reachability(spark, pathDir, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node ids: customer k -> 2k, supplier k -> 2k+1
    assert(got == Map(2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L),
      s"c1=0, s1=1, c2=2, s2=3; c3 and isolated c4 unreached: $got")
  }

  test("r9: BFS with maxHops=4 reaches c3; isolated c4 never appears") {
    val got = graft.operators.Graph.reachability(spark, pathDir, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(6L) == 4L && !got.contains(8L), s"$got")
  }

  test("r9: integer PageRank matches a driver-side recurrence bit-for-bit") {
    val dir = SparkSpec.testDataDir
    val both = bothWays(tradePairs(dir))
    val deg = both.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val edges = both.map { case (src, dst) => (src, dst, deg(src)) }
    val nodes = graft.operators.Graph.tradeNodes(spark, dir)
      .collect().map(_.getLong(0))
    val scale = graft.operators.Graph.Scale
    var pr = nodes.map(_ -> scale).toMap
    for (_ <- 1 to 5) {
      val in = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (src, dst, outdeg) =>
        in(dst) = in.getOrElse(dst, 0L) + pr(src) / outdeg
      }
      pr = nodes.map(n => n -> (scale * 15L / 100L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    val got = graft.operators.Graph.pageRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == pr, s"diff=${(got.toSet -- pr.toSet).take(5)}")
    // mass sanity: total never exceeds the initial uniform mass
    assert(got.values.sum <= nodes.length * scale)
    assert(got.values.min >= scale * 15L / 100L, "base rank floor")
  }

  test("r9: PageRank on the path graph favors the bridge customer c2") {
    val got = graft.operators.Graph.pageRank(spark, pathDir, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // c2 (node 4) is on every path; isolated c4 (node 8) keeps base rank
    assert(got(4L) > got(2L) && got(4L) > got(6L), s"$got")
    assert(got(8L) == graft.operators.Graph.Scale * 15L / 100L, s"$got")
  }

  test("r9: min-label propagation finds both components of the path graph") {
    val got = graft.operators.Graph.components(spark, pathDir, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain c1-s1-c2-s2-c3 all collapse to min node id 2; isolated c4 keeps its own
    assert(got == Map(2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L, 6L -> 2L, 8L -> 8L), s"$got")
  }

  test("r9: one superstep only propagates one hop (semantics are k-step, not CC)") {
    val got = graft.operators.Graph.components(spark, pathDir, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // after 1 step c3 (node 6) has only seen s2's label (5), not the chain min
    assert(got(6L) == 5L && got(2L) == 2L, s"$got")
  }

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def supplierNode(hubMod: Option[Long]): Column =
    hubMod.fold(col("l_suppkey") * 2 + 1)(m => (col("l_suppkey") % m) * 2 + 1)

  private def nodeSet(dir: String, hubMod: Option[Long]): DataFrame =
    hubMod.fold(Graph.tradeNodes(spark, dir))(Graph.hubNodes(spark, dir, _))

  /** PageRank through its core, with the node gate at `gate`. */
  private def rankCore(dir: String, gate: Long, hubMod: Option[Long] = None,
      nodes: Option[DataFrame] = None): Map[Long, Long] = {
    pairs(Graph.pageRankCore(spark, Graph.tradePairs(spark, dir, supplierNode(hubMod)),
      nodes.getOrElse(nodeSet(dir, hubMod)),
      iters = 5, dampPct = 85, scale = Graph.Scale, checkpointEvery = 4,
      broadcastNodes = gate))
  }

  /** Components through its core, with the node gate at `gate`. */
  private def labelCore(dir: String, gate: Long, hubMod: Option[Long] = None,
      nodes: Option[DataFrame] = None): Map[Long, Long] = {
    pairs(Graph.componentsCore(spark, Graph.tradePairs(spark, dir, supplierNode(hubMod)),
      nodes.getOrElse(nodeSet(dir, hubMod)), iters = 4, checkpointEvery = 2,
      broadcastNodes = gate))
  }

  test("array and shuffle regimes agree on every PageRank and components twin") {
    for (dir <- Seq(SparkSpec.testDataDir, pathDir)) {
      assert(pairs(Graph.pageRank(spark, dir)) == rankCore(dir, gate = 0), dir)
      assert(pairs(Graph.components(spark, dir)) == labelCore(dir, gate = 0), dir)
      assert(pairs(Graph.pageRankHubSkew(spark, dir)) ==
        rankCore(dir, gate = 0, hubMod = Some(8L)), dir)
      assert(pairs(Graph.componentsHubSkew(spark, dir)) ==
        labelCore(dir, gate = 0, hubMod = Some(8L)), dir)
    }
  }

  test("both regimes rank exactly the node set, as the oracle does, when edges name non-nodes") {
    import spark.implicits._
    val t = (name: String) => spark.read.parquet(s"$strayDir/$name.parquet")
    val traded = t("orders").join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey") * 2, col("l_suppkey") * 2 + 1).distinct()
      .as[(Long, Long)].collect().toSeq
    val e = traded ++ traded.map(_.swap)
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = Graph.tradeNodes(spark, strayDir).as[Long].collect().toSeq
    // the oracle's joins: a stray src has no state row, a stray dst no output row
    var pr = nodes.map(_ -> Graph.Scale).toMap
    var lbl = nodes.map(n => n -> n).toMap
    for (i <- 1 to 5) {
      val in = e.filter { case (s, d) => pr.contains(s) && pr.contains(d) }
        .groupBy(_._2).map { case (d, es) => d -> es.map { case (s, _) => pr(s) / outdeg(s) }.sum }
      pr = nodes.map(n => n -> (Graph.Scale * 15L / 100L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
      if (i <= 4) {
        val nbr = e.filter { case (s, d) => lbl.contains(s) && lbl.contains(d) }
          .groupBy(_._2).map { case (d, es) => d -> es.map(x => lbl(x._1)).min }
        lbl = nodes.map(n => n -> math.min(lbl(n), nbr.getOrElse(n, n))).toMap
      }
    }
    assert(outdeg(5L) == 3L && !nodes.contains(0L) && !nodes.contains(1L),
      "s2 trades with the stray customer, which is not a node")
    for (gate <- Seq(0L, Graph.BroadcastableNodes)) {
      assert(rankCore(strayDir, gate) == pr, s"gate=$gate")
      assert(labelCore(strayDir, gate) == lbl, s"gate=$gate")
    }
    assert(pairs(Graph.pageRank(spark, strayDir)) == pr)
    assert(pairs(Graph.components(spark, strayDir)) == lbl)
  }

  test("duplicate node ids fail loudly in both regimes") {
    val twice = () => Graph.tradeNodes(spark, pathDir).unionAll(Graph.tradeNodes(spark, pathDir))
    for (gate <- Seq(0L, Graph.BroadcastableNodes)) {
      val pr = intercept[IllegalArgumentException](rankCore(pathDir, gate, nodes = Some(twice())))
      assert(pr.getMessage.contains("duplicate node id"), s"gate=$gate")
      val cc = intercept[IllegalArgumentException](labelCore(pathDir, gate, nodes = Some(twice())))
      assert(cc.getMessage.contains("duplicate node id"), s"gate=$gate")
    }
  }

  test("PageRank and components release every cache and broadcast they make") {
    val sc = spark.sparkContext
    for (gate <- Seq(0L, Graph.BroadcastableNodes); rank <- Seq(true, false)) {
      val cached = sc.getPersistentRDDs.keySet
      val arrays = org.apache.spark.graft.LiveBroadcasts.ofLongArrays()
      val pairs0 = Graph.tradePairs(spark, SparkSpec.testDataDir)
      val nodes = Graph.tradeNodes(spark, SparkSpec.testDataDir)
      val out =
        if (rank) Graph.pageRankCore(spark, pairs0, nodes, 5, 85, Graph.Scale, 4, gate)
        else Graph.componentsCore(spark, pairs0, nodes, 4, 2, gate)
      val own = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
      if (gate == 0L) {
        // the shuffle regime's result is a local checkpoint: its RDD is the one new cache
        assert(own.size == 1)
        assert(sc.getPersistentRDDs.keySet == cached ++ own, s"gate=$gate rank=$rank")
        own.foreach(id => sc.getPersistentRDDs(id).unpersist(true))
      } else {
        // the array regime's result is a driver-local relation: it holds no RDD, no new cache
        assert(own.isEmpty, s"gate=$gate rank=$rank")
        assert(sc.getPersistentRDDs.keySet == cached, s"gate=$gate rank=$rank")
      }
      // broadcast removal is asynchronous
      val deadline = System.nanoTime() + 10000000000L
      while (!(org.apache.spark.graft.LiveBroadcasts.ofLongArrays() subsetOf arrays) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(org.apache.spark.graft.LiveBroadcasts.ofLongArrays() subsetOf arrays,
        s"gate=$gate rank=$rank: an engine broadcast is still live")
    }
  }

  /** The trade graph of `dir` as collected distinct undirected (u, v) pairs:
    * the driver-side references count each edge once, as the engine does. */
  private def tradePairs(dir: String): Seq[(Long, Long)] =
    Graph.tradePairs(spark, dir).distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Both directions of undirected pairs, as (src, dst) edges. */
  private def bothWays(p: Seq[(Long, Long)]): Seq[(Long, Long)] = p ++ p.map(_.swap)

  /** Synchronous LPA on the driver: every dst takes its in-neighbours'
    * most frequent label, ties to the smallest. */
  private def lpaByHand(e: Seq[(Long, Long)], steps: Int): Map[Long, Long] =
    (1 to steps).foldLeft(e.map(_._2).distinct.map(n => n -> n).toMap) { (lbl, _) =>
      e.groupBy(_._2).map { case (d, in) =>
        d -> in.groupBy(x => lbl(x._1)).toSeq.map { case (l, ls) => (-ls.size, l) }.min._2
      }
    }

  /** A reach seed: customer 1, node 2 (on the path graphs, nation 1's only customer). */
  private def seedC1: DataFrame = spark.range(1).select(functions.lit(2L).as("node"))

  /** BFS hops on the driver over every endpoint of `e`, up to `maxHops`. */
  private def hopsByHand(e: Seq[(Long, Long)], seeds: Set[Long], maxHops: Int): Map[Long, Long] =
    (1 to maxHops).foldLeft(seeds.map(_ -> 0L).toMap) { (hop, h) =>
      hop ++ e.collect { case (s, d) if hop.get(s).contains(h - 1L) && !hop.contains(d) => d -> h.toLong }
    }

  private def lpaRows(pairs: DataFrame, steps: Int, gate: Long): Map[Long, (Long, Long)] =
    Graph.lpaCore(spark, pairs, steps, broadcastNodes = gate).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** LPA rows must carry the expected labels, and each size is its label's count. */
  private def assertLpa(got: Map[Long, (Long, Long)], want: Map[Long, Long], clue: String): Unit = {
    assert(got.map { case (n, (l, _)) => n -> l } == want, clue)
    val sizes = want.values.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    assert(got.values.forall { case (l, sz) => sizes(l) == sz }, clue)
  }

  test("LPA: both regimes equal a driver-side recurrence, ties to the smallest label") {
    import spark.implicits._
    // a star, centre 9 and leaves 1-4, plus the leaf edges 1-2 and 3-4:
    // every first-step label is a tie between singleton counts
    val star = Seq(9L -> 1L, 9L -> 2L, 9L -> 3L, 9L -> 4L, 1L -> 2L, 3L -> 4L)
    val graphs = Seq("star" -> star, "path" -> tradePairs(pathDir))
    for ((name, p) <- graphs; steps <- Seq(1, 2, 3); gate <- Seq(0L, Graph.BroadcastableNodes)) {
      assertLpa(lpaRows(p.toDF("u", "v"), steps, gate), lpaByHand(bothWays(p), steps),
        s"$name steps=$steps gate=$gate")
    }
    assert(lpaByHand(bothWays(graphs.head._2), 1) ==
      Map(9L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
    // the path c1-s1-c2-s2-c3: s1 sees {c1, c2}, a tie the smaller id wins
    assert(lpaByHand(bothWays(graphs(1)._2), 1)(3L) == 2L)
  }

  test("reach: both regimes equal a driver-side BFS on the path graph and past non-nodes") {
    for ((dir, maxHops) <- Seq(pathDir -> 3, pathDir -> 4, strayDir -> 4, strayDir -> 5)) {
      val want = hopsByHand(bothWays(tradePairs(dir)), Set(2L), maxHops)
      for (gate <- Seq(0L, Graph.BroadcastableNodes)) {
        assert(pairs(Graph.reachCore(spark, Graph.tradePairs(spark, dir), seedC1, maxHops,
          gate)) == want, s"$dir maxHops=$maxHops gate=$gate")
      }
      assert(pairs(Graph.reachability(spark, dir, maxHops)) == want, s"$dir maxHops=$maxHops")
    }
    // the stray customer 0 is not a node, but the oracle follows its edge
    // from s2 (hop 3): it is reached at hop 4, and s0 (via c3) at hop 5
    val stray = pairs(Graph.reachability(spark, strayDir, maxHops = 5))
    assert(stray(0L) == 4L && stray(1L) == 5L && !stray.contains(8L), s"$stray")
  }

  test("a repeated pair changes nothing: both regimes count every edge once") {
    for (dir <- Seq(SparkSpec.testDataDir, pathDir); gate <- Seq(0L, Graph.BroadcastableNodes)) {
      val once = Graph.tradePairs(spark, dir).distinct()
      val nodes = Graph.tradeNodes(spark, dir)
      val cores = Seq[(String, DataFrame => DataFrame)](
        "pageRank" -> (p => Graph.pageRankCore(spark, p, nodes, 5, 85, Graph.Scale, 4, gate)),
        "components" -> (p => Graph.componentsCore(spark, p, nodes, 4, 2, gate)),
        "reach" -> (p => Graph.reachCore(spark, p, seedC1, 3, gate)),
        "lpa" -> (p => Graph.lpaCore(spark, p, 3, broadcastNodes = gate)))
      for ((name, core) <- cores) {
        val want = core(once).collect().toSet
        val got = core(once.unionAll(once)).collect().toSet
        assert(want.nonEmpty, s"$name $dir gate=$gate")
        val same = got == want
        assert(same, s"$name $dir gate=$gate: ${(got -- want).take(3)}")
      }
    }
  }

  test("LPA and reach release every cache and broadcast they make") {
    val sc = spark.sparkContext
    val dir = SparkSpec.testDataDir
    // the cores at gate 0 run the shuffle regime, the catalog entries the array one
    val runs = Seq[(String, () => DataFrame)](
      "lpa shuffle" -> (() => Graph.lpaCore(spark, Graph.tradePairs(spark, dir), 3, 0L)),
      "reach shuffle" -> (() => Graph.reachCore(spark, Graph.tradePairs(spark, dir), seedC1, 3, 0L)),
      "lpaCommunities" -> (() => Graph.lpaCommunities(spark, dir)),
      "reachability" -> (() => Graph.reachability(spark, dir)))
    for ((name, run) <- runs) {
      val cached = sc.getPersistentRDDs.keySet
      val arrays = org.apache.spark.graft.LiveBroadcasts.ofLongArrays()
      val out = run()
      // a reshaped result (LPA's sizes, reach's filter) is a local checkpoint
      // in both regimes: its RDD is the one new cache
      val own = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert(own.size == 1, name)
      assert(sc.getPersistentRDDs.keySet == cached ++ own, name)
      assert(out.count() > 0, name)
      own.foreach(id => sc.getPersistentRDDs(id).unpersist(true))
      val deadline = System.nanoTime() + 10000000000L
      while (!(org.apache.spark.graft.LiveBroadcasts.ofLongArrays() subsetOf arrays) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(org.apache.spark.graft.LiveBroadcasts.ofLongArrays() subsetOf arrays,
        s"$name: an engine broadcast is still live")
    }
  }
}
