package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.sources.ParquetSource

/** Iterative graph analytics over the trade graph the TPC-H-ish fixture
  * implies: an undirected customer⇄supplier edge for every (customer,
  * supplier) pair that ever traded (orders ⋈ lineitem, each pair counted
  * once, both directions materialized so the random walk is symmetric). Node
  * ids disambiguate the two populations arithmetically
  * (`c_custkey·2` / `s_suppkey·2+1`) — no strings on any shuffle.
  *
  * Everything is fixed-iteration and ALL-INTEGER (ranks in integer
  * "nano-mass" units, truncating division), so results are bit-equal to
  * the DuckDB oracle's unrolled-CTE twin regardless of partitioning,
  * summation order, or engine — the same money-in-cents discipline the
  * relational family uses, applied to iterative state.
  *
  * The node universe of PageRank and components is the `nodes` frame,
  * exactly as in the oracle (`r0 FROM nodes`, then `nodes LEFT JOIN`):
  * every node gets one output row, an edge whose src or dst is not a node
  * contributes nothing, and `outdeg` still counts every edge. Reach takes
  * every edge endpoint plus the seeds, LPA its backbone's endpoints, as
  * their oracles do. Duplicate node ids fail loudly.
  *
  * Scale notes:
  *   - PageRank, components, reach and LPA share ONE superstep engine,
  *     [[supersteps]]: each brings its state init, array kernel (sum, min
  *     or mode) and shuffle step; the node count picks the regime once
  *   - the engine takes UNDIRECTED (u, v) pairs, which may repeat, and
  *     builds both edge directions itself in its one edge build, where each
  *     edge is counted once; only reach caches its pairs
  *   - up to [[BroadcastableNodes]] nodes, [[arraySupersteps]]: state is
  *     one long per node on the driver, the trade rows reach the edge cache
  *     through ONE exchange (no distinct ahead of it: the block build
  *     dedupes), the edges are cached as per-partition primitive arrays
  *     partitioned on `dst`, and a superstep is one broadcast plus one
  *     single-stage job that returns one partial per node — no SQL plan per
  *     superstep, no exchange, no lineage to truncate; the result is a
  *     driver-local relation, collected with no job
  *   - past the gate, the shuffle regime dedupes its directed edges once,
  *     then joins the state to src-partitioned edges and aggregates on
  *     `dst`, one or two exchanges per superstep, with a localCheckpoint
  *     every `checkpointEvery` supersteps so the plan does not deepen
  *     linearly with iterations
  *   - rank SCALE must satisfy `N · SCALE · dampPct < 2^63`: the default
  *     1e9 is safe to ~10^8 nodes; [[pageRankCore]] asserts it on the
  *     runtime node count
  *   - truncating division leaks ≤ outdeg−1 nano-units per node per
  *     superstep, and mass sent along an edge to a non-node is dropped
  *     ("dropped mass" semantics, identical in the oracle)
  */
object Graph {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSource.read(spark, s"$dir/$name.parquet")

  /** Rank scale: the uniform vector is `SCALE` per node. */
  val Scale = 1000000000L

  /** The undirected trade pairs: (u, v) = (customer node, supplier node
    * `snode`), one per lineitem row of a known order, uncached. A pair
    * repeats when a customer buys from a supplier more than once; the
    * superstep engine counts each edge once ([[supersteps]]), so no distinct
    * runs here and the rows reach the edge blocks through one exchange. Edge
    * weight is ignored by design (the oracle does the same). `snode` is the
    * seam the hub-skew twins use to collapse suppliers into super-nodes.
    */
  private[graft] def tradePairs(spark: SparkSession, dir: String,
      snode: Column = col("l_suppkey") * 2 + 1): DataFrame =
    t(spark, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(spark, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("u"), snode.as("v")) // customer, supplier node

  /** All graph nodes (isolated customers/suppliers included — they keep
    * the base rank, identically in the oracle). */
  def tradeNodes(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select((col("c_custkey") * 2).as("node"))
      .unionAll(t(spark, dir, "supplier")
        .select((col("s_suppkey") * 2 + 1).as("node")))

  /** The node set of the hub-skew twins: customers plus the `hubMod`
    * supplier super-nodes `(s_suppkey % hubMod)·2+1`. The supplier table is
    * small, so its distinct runs in one partition with no exchange, and
    * [[nodeUniverse]] reads the node set in one job. */
  private[graft] def hubNodes(spark: SparkSession, dir: String, hubMod: Long): DataFrame =
    t(spark, dir, "customer").select((col("c_custkey") * 2).as("node"))
      .unionAll(t(spark, dir, "supplier")
        .select(((col("s_suppkey") % hubMod) * 2 + 1).as("node")).coalesce(1).distinct())

  /** Fixed-iteration integer PageRank:
    * `pr' = SCALE·(100−dampPct)/100 + dampPct · Σ_in (pr div outdeg) div 100`,
    * over the nodes of [[tradeNodes]]. `checkpointEvery` applies to the
    * shuffle regime only (past [[BroadcastableNodes]]).
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 5,
      dampPct: Long = 85, scale: Long = Scale,
      checkpointEvery: Int = 4): DataFrame =
    pageRankCore(spark, tradePairs(spark, dir), tradeNodes(spark, dir),
      iters, dampPct, scale, checkpointEvery)

  /** Hub-heavy degree-skew twin of [[pageRank]]: the identical integer
    * recurrence over the trade graph with the supplier side COLLAPSED to
    * `l_suppkey % hubMod` — `hubMod` supplier super-nodes absorb EVERY
    * customer edge, so the max degree is ~(suppliers/hubMod)× the natural
    * fixture's. A green oracle row proves the superstep survives hot keys:
    * the neighbor sum is folded per partition before anything leaves it
    * (the array regime sends one partial per dst; the shuffle regime's
    * `groupBy` combines map-side before the exchange), never a window or a
    * collected neighbor list — the property that matters when a real graph
    * has power-law hubs.
    */
  def pageRankHubSkew(spark: SparkSession, dir: String, iters: Int = 5,
      hubMod: Long = 8, dampPct: Long = 85, scale: Long = Scale,
      checkpointEvery: Int = 4): DataFrame = {
    require(hubMod >= 1, s"hubMod must be >= 1, got $hubMod")
    pageRankCore(spark, tradePairs(spark, dir, (col("l_suppkey") % hubMod) * 2 + 1),
      hubNodes(spark, dir, hubMod), iters, dampPct, scale, checkpointEvery)
  }

  /** Node count up to which the superstep state lives on the driver as
    * two arrays (sorted node ids, one long of state per node) and each
    * superstep is one single-stage job over the array edge cache
    * ([[arraySupersteps]]): a 2^20-node state array is 8 MiB, cheap to
    * broadcast once per superstep. Past the gate the cores run the
    * shuffle-join superstep ([[shuffleSupersteps]]), the regime for a
    * state vector that is itself cluster-sized. The gate reads the runtime
    * node count, so the choice follows the data.
    */
  val BroadcastableNodes: Long = 1L << 20

  /** The node universe, read once: the node count, plus the sorted ids and
    * their `init` values when there are at most `gate` of them (the array
    * regime) — one job below the gate, and never more than `gate + 1` rows
    * on the driver. Duplicate ids fail loudly in both regimes: the
    * recurrences (and the oracle's `nodes LEFT JOIN`) assume one state per
    * node.
    *
    * A node set whose plan needs no exchange (the scans of [[tradeNodes]],
    * the one-partition distinct of [[hubNodes]]) is read in one task that
    * stops at `gate + 1` rows: a limit over several partitions would take
    * one job per batch of partitions. A node set with an exchange keeps its
    * partitions, so its reduce side never runs in one task.
    */
  private def nodeUniverse(nodes: DataFrame, init: Column,
      gate: Long): (Long, Option[(Array[Long], Array[Long])]) = {
    require(gate >= 0 && gate < Int.MaxValue, s"node gate must be in [0, 2^31-1), got $gate")
    val sel = nodes.select(col("node").cast("long").as("id"), init.cast("long").as("init"))
    val narrow = !sel.queryExecution.sparkPlan.exists(p => p.children.zip(p.requiredChildDistribution)
      .exists { case (c, d) => !c.outputPartitioning.satisfies(d) }) // no exchange is planned
    val rows = (if (narrow) sel.coalesce(1) else sel)
      .limit(gate.toInt + 1)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    if (rows.length <= gate) {
      val (ids, init) = rows.sortBy(_._1).unzip
      val dup = (1 until ids.length).find(i => ids(i) == ids(i - 1))
      require(dup.isEmpty, s"duplicate node id ${dup.map(ids(_)).getOrElse(0L)} in the node set")
      (ids.length.toLong, Some((ids, init)))
    } else {
      val r = nodes.groupBy("node").agg(count(lit(1)).as("c"))
        .agg(sum("c"), max("c")).head()
      require(r.getLong(1) == 1L, "duplicate node id in the node set")
      (r.getLong(0), None)
    }
  }

  /** One partition of the array engine's edge cache: edge `k` runs from
    * node index `src(k)` into local slot `slot(k)`, whose node index is
    * `dst(slot(k))`. `deg(slot(k))` counts the slot's distinct
    * in-neighbours, non-nodes included: its out-degree, the edges being
    * symmetric. Edges are partitioned on `dst`, so every dst owns one slot
    * in one partition and sees all its in-edges there: any per-dst fold is
    * partition-local and exact. Each (dst, src) edge appears once. */
  private final case class EdgeBlock(src: Array[Int], slot: Array[Int],
      dst: Array[Int], deg: Array[Long])

  /** An array-regime kernel: `fold(b, sent)(j)` folds slot `j`'s in-neighbours'
    * sent values; a slot without in-edges folds to the recurrence's `zero`. */
  private type Fold = (EdgeBlock, Array[Long]) => Array[Long]

  /** Σ `sent(src)` (PageRank, which sends `pr div outdeg`). */
  private val sumIn: Fold = (b, st) => {
    val acc = new Array[Long](b.dst.length)
    var k = 0
    while (k < b.src.length) {
      acc(b.slot(k)) += st(b.src(k))
      k += 1
    }
    acc
  }

  /** min `state(src)` (components, reach). */
  private val minIn: Fold = (b, st) => {
    val acc = Array.fill(b.dst.length)(Long.MaxValue)
    var k = 0
    while (k < b.src.length) {
      val v = st(b.src(k))
      val j = b.slot(k)
      if (v < acc(j)) acc(j) = v
      k += 1
    }
    acc
  }

  /** Counting sort of `value(k)` by `slot(k)` into `nSlots` buckets: slot
    * `j` holds `out(start(j) until start(j + 1))`. */
  private def bySlot(slot: Array[Int], nSlots: Int, value: Int => Long): (Array[Int], Array[Long]) = {
    val start = new Array[Int](nSlots + 1)
    slot.foreach(j => start(j + 1) += 1)
    for (j <- 0 until nSlots) start(j + 1) += start(j)
    val next = start.clone()
    val out = new Array[Long](slot.length)
    for (k <- slot.indices) { out(next(slot(k))) = value(k); next(slot(k)) += 1 }
    (start, out)
  }

  /** The most frequent `state(src)`, ties to the smallest (LPA): each slot's
    * states, bucketed by [[bySlot]], are sorted; the first longest run wins. */
  private val modeIn: Fold = (b, st) => {
    val (start, lbl) = bySlot(b.slot, b.dst.length, k => st(b.src(k)))
    Array.tabulate(b.dst.length) { j =>
      java.util.Arrays.sort(lbl, start(j), start(j + 1))
      var best = Long.MaxValue
      var bestRun, run = 0L
      for (i <- start(j) until start(j + 1)) {
        run = if (i > start(j) && lbl(i) == lbl(i - 1)) run + 1 else 1
        if (run > bestRun) { best = lbl(i); bestRun = run }
      }
      best
    }
  }

  /** A recurrence over the state column `name`, starting at `init`: the array
    * regime sets each node to `update(old, fold partial or zero)`, the shuffle
    * regime runs `step(state, edges, nodes)`, its edges carrying `outdeg`
    * when `byDegree` (the array regime then sends `state div outdeg`);
    * `finish` reshapes the (node, name) result before it is materialized. */
  private final case class Recurrence(name: String, init: Column, zero: Long, fold: Fold,
      update: (Long, Long) => Long, step: (DataFrame, DataFrame, DataFrame) => DataFrame,
      byDegree: Boolean = false, finish: Option[DataFrame => DataFrame] = None)

  /** Both directions of the undirected (u, v) pairs as long (src, dst) rows, in one pass. */
  private def directed(pairs: DataFrame): DataFrame = {
    val (u, v) = (col("u").cast("long"), col("v").cast("long"))
    pairs.select(inline(array(struct(u.as("src"), v.as("dst")), struct(v.as("src"), u.as("dst")))))
  }

  /** The superstep engine of all four recurrences: the (node, `rec.name`)
    * frame after `iters` supersteps over both directions of the undirected
    * (u, v) `pairs`. [[nodeUniverse]] reads the nodes once; `checkNodes`
    * sees their count, which picks [[arraySupersteps]] up to `gate`, else
    * [[shuffleSupersteps]]. The regime's intermediates live in one
    * [[Materialize]] scope, which materializes the (finished) result: a
    * checkpoint, or, for the array regime's unreshaped result, the
    * driver-local relation itself.
    *
    * Both regimes count an edge once: a (src, dst) edge that the pairs give
    * more than once (a repeated pair) folds and counts in `outdeg` as one,
    * as over the oracle's distinct pairs. So callers need not dedupe. */
  private def supersteps(spark: SparkSession, pairs: DataFrame, nodes0: DataFrame,
      rec: Recurrence, iters: Int, checkpointEvery: Int, gate: Long,
      checkNodes: Long => Unit = _ => ()): DataFrame = Materialize { m =>
    val (nNodes, small) = nodeUniverse(nodes0, rec.init, gate)
    checkNodes(nNodes)
    val out = small match {
      case Some((ids, init)) => arraySupersteps(spark, pairs, ids, init, rec, iters)
      case None => shuffleSupersteps(m, spark, pairs, nodes0, rec, iters, checkpointEvery)
    }
    rec.finish.fold(out)(_(out))
  }

  /** The small-graph regime: one long of state per node on the driver,
    * indexed by position in the sorted `ids`. One exchange takes both edge
    * directions of the pairs to persisted [[EdgeBlock]]s, partitioned on
    * `dst`. The block build is where an edge is counted once: it buckets
    * each partition's edges by dst slot, sorts each slot's raw srcs and keeps
    * one edge per (dst, src). It drops an edge whose src or dst is not a node
    * (as the oracle's joins do), but counts its src in its dst's degree; a
    * `byDegree` recurrence collects the degrees in the job that fills the
    * blocks. Per superstep the sent values are broadcast, one single-stage
    * job folds each block into per-dst partials, and the driver updates
    * every node. All-integer, so partitioning and summation order do not
    * matter. The result is a driver-local relation over the driver's
    * arrays, which a collect reads with no job. The edge blocks are an RDD,
    * released here in a `finally`. */
  private def arraySupersteps(spark: SparkSession, pairs: DataFrame, ids: Array[Long],
      init: Array[Long], rec: Recurrence, iters: Int): DataFrame = {
    val sc = spark.sparkContext
    val idsB = sc.broadcast(ids)
    val fold = rec.fold
    // sorted map output compresses; on one long key the sort is a radix sort
    val blocks = directed(pairs).sortWithinPartitions("dst")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("dst"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val ids = idsB.value
        val dstB, rawSlot = Array.newBuilder[Int]
        val rawSrc = Array.newBuilder[Long]
        val slotOf = Array.fill(ids.length)(-1) // node index -> local slot
        rows.foreach { r =>
          val d = java.util.Arrays.binarySearch(ids, r.getLong(1))
          if (d >= 0) {
            if (slotOf(d) < 0) { slotOf(d) = dstB.length; dstB += d } // next free slot
            rawSlot += slotOf(d)
            rawSrc += r.getLong(0)
          }
        }
        val dst = dstB.result()
        val raw = rawSrc.result()
        val (start, srcs) = bySlot(rawSlot.result(), dst.length, raw(_))
        val src, slot = Array.newBuilder[Int]
        val deg = new Array[Long](dst.length)
        for (j <- dst.indices) {
          java.util.Arrays.sort(srcs, start(j), start(j + 1))
          var i = start(j)
          while (i < start(j + 1)) {
            if (i == start(j) || srcs(i) != srcs(i - 1)) { // the first of each distinct src
              deg(j) += 1
              val s = java.util.Arrays.binarySearch(ids, srcs(i))
              if (s >= 0) { src += s; slot += j }
            }
            i += 1
          }
        }
        Iterator.single(EdgeBlock(src.result(), slot.result(), dst, deg))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    val state = try {
      val outdeg = Array.fill(ids.length)(1L) // a node no block counts: no edge reads it
      if (rec.byDegree)
        for ((dst, deg) <- blocks.map(b => (b.dst, b.deg)).collect(); j <- dst.indices)
          outdeg(dst(j)) = deg(j)
      (1 to iters).foldLeft(init) { (state, _) =>
        val sent = if (rec.byDegree) Array.tabulate(ids.length)(i => state(i) / outdeg(i)) else state
        val sentB = sc.broadcast(sent)
        val partials = try blocks.map(b => (b.dst, fold(b, sentB.value))).collect()
          finally sentB.destroy()
        val in = Array.fill(ids.length)(rec.zero)
        for ((dst, acc) <- partials; j <- dst.indices) in(dst(j)) = acc(j)
        Array.tabulate(ids.length)(i => rec.update(state(i), in(i)))
      }
    } finally {
      blocks.unpersist(false)
      idsB.destroy()
    }
    // a driver-local relation of internal rows: no RDD, and no job to collect it
    PlanBridge.ofRows(spark, LocalRelation(
      DataTypeUtils.toAttributes(StructType.fromDDL(s"node BIGINT NOT NULL, ${rec.name} BIGINT NOT NULL")),
      ids.indices.map(i => InternalRow(ids(i), state(i)))))
  }

  /** The shuffle regime, past the node gate. The directed edges are
    * deduped once, ahead of the degree aggregate, then persisted
    * partitioned on `src`, so a superstep's join exchanges only the state;
    * dsts outside the node set are dropped once up front (srcs outside it
    * never meet a state row), after a `byDegree` recurrence's `outdeg` has
    * counted them. A localCheckpoint every `checkpointEvery` supersteps cuts
    * lineage and is released with the result. The caches and checkpoints
    * are held in `m`. */
  private def shuffleSupersteps(m: Materialize, spark: SparkSession, pairs: DataFrame,
      nodes0: DataFrame, rec: Recurrence, iters: Int, checkpointEvery: Int): DataFrame = {
    val nodes = m.cache(nodes0)
    val all = directed(pairs).distinct()
    val withDeg = if (!rec.byDegree) all
      else all.join(all.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    val edges = m.cache(withDeg.join(nodes, withDeg("dst") === nodes("node"), "left_semi")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("src")))
    var state = nodes.withColumn(rec.name, rec.init)
    for (i <- 1 to iters) {
      state = rec.step(state, edges, nodes)
      if (i % checkpointEvery == 0 && i < iters) state = m.checkpoint(state)
    }
    state.select(col("node").cast("bigint").as("node"), col(rec.name).cast("bigint").as(rec.name))
  }

  /** PageRank over both directions of the undirected (u, v) `pairs`. */
  private[graft] def pageRankCore(spark: SparkSession, pairs: DataFrame, nodes0: DataFrame,
      iters: Int, dampPct: Long, scale: Long, checkpointEvery: Int,
      broadcastNodes: Long = BroadcastableNodes): DataFrame = {
    require(dampPct >= 1 && dampPct <= 100, s"dampPct must be in [1, 100], got $dampPct")
    val base = scale * (100L - dampPct) / 100L
    val rank = Recurrence("pr", lit(scale), 0L, sumIn, (_, in) => base + dampPct * in / 100L,
      (ranks, edges, nodes) =>
        // nodes ride the aggregate as zero-contribution rows instead of a
        // post-agg left join — ONE exchange per superstep, not two
        ranks.join(edges, ranks("node") === edges("src"))
          .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
          .unionAll(nodes.select(col("node"), lit(0L).as("c")))
          .groupBy("node")
          .agg((lit(base) + expr(s"($dampPct * sum(c)) div 100")).as("pr")),
      byDegree = true)
    // Overflow precondition, asserted at RUNTIME on the actual node count:
    // a node's inbound sum is bounded by the total mass N·scale, which the
    // damping step then multiplies by dampPct before the div — so
    // N·scale·dampPct must fit in a Long. The default scale is safe to
    // ~10^8 nodes; beyond that this fails loudly instead of wrapping.
    supersteps(spark, pairs, nodes0, rank, iters, checkpointEvery, broadcastNodes,
      checkNodes = n => require(n == 0 || scale <= Long.MaxValue / n / dampPct,
        s"integer PageRank overflow: $n nodes × scale=$scale × dampPct=$dampPct " +
          "exceeds 2^63 — pass a smaller scale"))
  }

  /** `x' = min(x, min over in-edges of x(src) + add)`, an unreached
    * (`Long.MaxValue`) source sending nothing: components (`add = 0`) and
    * reach (`add = 1`). The shuffle step is ONE aggregate — the self rows ride
    * the union, so there is no post-agg join back to the node set. */
  private def minPlus(name: String, init: Column, add: Long): Recurrence =
    Recurrence(name, init, Long.MaxValue, minIn,
      (old, in) => if (in == Long.MaxValue) old else math.min(old, in + add),
      (state, edges, _) =>
        state.join(edges, state("node") === edges("src")).where(col(name) < Long.MaxValue)
          .select(col("dst").as("node"), (col(name) + add).as("m"))
          .unionAll(state.select(col("node"), col(name).as("m")))
          .groupBy("node").agg(min(col("m")).as(name)))

  /** Min-label propagation — connected components once converged (k ≥
    * graph diameter; the dense trade graph converges in 2-3 supersteps,
    * and the SEMANTICS are "after exactly `iters` supersteps", so the
    * oracle is exact whether or not convergence happened). Per superstep
    * each node takes the min of its own label and its in-neighbors'
    * labels — the HashToMin/large-star building block every distributed CC
    * uses; the [[graft.operators.Dedup]] cluster path applies the same
    * idea edge-wise for unbounded diameters.
    *
    * Scale: the [[pageRank]] regimes with a min fold in place of the sum;
    * `checkpointEvery` applies to the shuffle regime only.
    */
  def components(spark: SparkSession, dir: String, iters: Int = 4,
      checkpointEvery: Int = 2): DataFrame =
    componentsCore(spark, tradePairs(spark, dir), tradeNodes(spark, dir), iters, checkpointEvery)

  /** Hub-heavy degree-skew twin of [[components]] (the
    * [[pageRankHubSkew]] pattern): suppliers collapse to `l_suppkey %
    * hubMod` super-nodes, so every min-label superstep funnels nearly the
    * whole customer label set into `hubMod` keys — the hot-key stress the
    * plain fixture's even degree distribution never exercises. Same
    * recurrence, same oracle shape; the min fold combines per partition
    * before anything leaves it, which is the property the green twin row
    * certifies.
    */
  def componentsHubSkew(spark: SparkSession, dir: String, iters: Int = 4,
      hubMod: Long = 8, checkpointEvery: Int = 2): DataFrame = {
    require(hubMod >= 1, s"hubMod must be >= 1, got $hubMod")
    componentsCore(spark, tradePairs(spark, dir, (col("l_suppkey") % hubMod) * 2 + 1),
      hubNodes(spark, dir, hubMod), iters, checkpointEvery)
  }

  /** Components over both directions of the undirected (u, v) `pairs`. */
  private[graft] def componentsCore(spark: SparkSession, pairs: DataFrame,
      nodes0: DataFrame, iters: Int, checkpointEvery: Int,
      broadcastNodes: Long = BroadcastableNodes): DataFrame =
    supersteps(spark, pairs, nodes0, minPlus("label", col("node"), 0L), iters,
      checkpointEvery, broadcastNodes)

  /** Bounded-hop BFS reachability: minimum hop count (≤ maxHops) from the
    * seed set — customers of one nation — over EVERY trade edge, as the
    * oracle does (a node missing from its table is still reached). It is
    * [[minPlus]] with `add = 1` over the edge endpoints and seeds: hop 0 at
    * the seeds, `Long.MaxValue` elsewhere; after `maxHops` supersteps every
    * node within `maxHops` holds its BFS hop, and only those are emitted.
    */
  def reachability(spark: SparkSession, dir: String, maxHops: Int = 3,
      nation: String = "NATION_1"): DataFrame = {
    val seeds = t(spark, dir, "customer")
      .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === nation)
      .select((col("c_custkey") * 2).as("node"))
    reachCore(spark, tradePairs(spark, dir), seeds, maxHops)
  }

  /** Reach over both directions of the undirected (u, v) `pairs`, which the
    * node universe and the edge build both read: they are filled once. */
  private[graft] def reachCore(spark: SparkSession, pairs0: DataFrame, seeds: DataFrame,
      maxHops: Int, broadcastNodes: Long = BroadcastableNodes): DataFrame = Materialize { m =>
    val pairs = m.fill(pairs0) // two consumers below (cache-before-AQE rule)
    val nodes = pairs.select(explode(array(col("u"), col("v"))).as("node"),
        lit(Long.MaxValue).as("h0"))
      .unionAll(seeds.select(col("node"), lit(0L).as("h0")))
      .groupBy("node").agg(min("h0").as("h0"))
    supersteps(spark, pairs, nodes,
      minPlus("hop", col("h0"), 1L).copy(finish = Some(_.where(col("hop") < Long.MaxValue))),
      maxHops, checkpointEvery = 2, broadcastNodes)
  }

  /** LABEL-PROPAGATION COMMUNITIES (round-10 continuation) — synchronous
    * LPA (Raghavan et al. 2007) over the top-decile co-service backbone
    * ([[sparsifiedCoServiceEdgesFrom]]): every node starts as its own
    * label; each superstep every node adopts the most frequent label among
    * its neighbors, ties to the SMALLEST label — the deterministic variant,
    * so the fixed `steps` supersteps produce one well-defined labeling on
    * any engine (async LPA's order-dependence is exactly what's excluded).
    * Output: each supplier's community after `steps` rounds plus the
    * community size.
    *
    * Scale: the [[supersteps]] engine over the backbone's endpoints — the
    * array regime takes each node's mode in its edge block; the shuffle
    * regime's argmax is an aggregate (`min(struct(-c, lbl))`), NOT a
    * per-node window, so no degree-sized partition materializes.
    */
  def lpaCommunities(spark: SparkSession, dir: String, steps: Int = 3,
      cutPermille: Int = 900): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    Materialize { m =>
      lpaCore(spark, sparsifiedCoServiceEdgesFrom(m, orderSuppliers(spark, dir), cutPermille), steps)
    }
  }

  /** LPA over both directions of the undirected (u, v) `pairs`; their
    * endpoints are the nodes (the oracle's `l0`). */
  private[graft] def lpaCore(spark: SparkSession, pairs: DataFrame, steps: Int,
      broadcastNodes: Long = BroadcastableNodes): DataFrame = {
    val lpa = Recurrence("lbl", col("node"), Long.MaxValue, modeIn, (_, in) => in,
      (labels, edges, _) =>
        labels.join(edges, labels("node") === edges("src"))
          .groupBy(col("dst").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy("node").agg(min(struct((-col("c")).as("negc"), col("lbl"))).as("m"))
          .select(col("node"), col("m.lbl").as("lbl")),
      finish = Some(labels => labels.join(labels.groupBy("lbl").agg(count(lit(1)).as("sz")), "lbl")
        .select(col("node").as("supplier"), col("lbl").as("community"),
          col("sz").cast("bigint").as("community_size"))))
    supersteps(spark, pairs, pairs.select(explode(array(col("u"), col("v"))).as("node")).distinct(),
      lpa, steps, checkpointEvery = 2, broadcastNodes)
  }

  /** Distinct (order, supplier) pairs; the hub twins pass `l_suppkey % hubMod`. */
  private def orderSuppliers(spark: SparkSession, dir: String,
      supplier: Column = col("l_suppkey")): DataFrame =
    t(spark, dir, "lineitem").select(col("l_orderkey"), supplier.as("l_suppkey")).distinct()

  /** Co-service weights: `w` orders served by both suppliers `u < v`. */
  private def coServiceWeights(sup: DataFrame): DataFrame =
    sup.as("a").join(sup.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .groupBy(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .agg(count(lit(1)).as("w"))

  /** Both directions of the (u, v) edge set `e`, as (`a`, `b`) rows. */
  private def bothWays(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col("u").as(a), col("v").as(b)).unionAll(e.select(col("v").as(a), col("u").as(b)))

  /** The BLOCKED wedge self-join over (mid, nb) rows: a mid of degree `d`
    * gets `s = ⌈d / wedgeCap⌉` hash-buckets over its neighbors, a row carries
    * its bucket (`bs`) and replicates over the other side's (`bo`), and the
    * join keys on `(mid, bs = bo, bo = bs)`: each `(mid, u < v)` wedge meets
    * once. Returns the wedges (u, v, d), `d` the mid's degree; the blocked
    * frame both sides read is filled in `m`.
    */
  private def blockedWedges(m: Materialize, adj: DataFrame, wedgeCap: Int): DataFrame = {
    // eager fill before the two-consumer self-join (cache-before-AQE)
    val blocked = m.fill(adj.join(adj.groupBy("mid").agg(count(lit(1)).as("d")), "mid")
      .withColumn("s", expr(s"(d + ${wedgeCap - 1}L) div ${wedgeCap}L"))
      .withColumn("bs", pmod(hash(col("nb")).cast("bigint"), col("s")))
      .withColumn("bo", explode(expr("sequence(0L, s - 1L)")))
      .select("mid", "nb", "d", "bs", "bo"))
    blocked.as("a").join(blocked.as("b"),
        col("a.mid") === col("b.mid") &&
          col("a.bs") === col("b.bo") && col("a.bo") === col("b.bs") &&
          col("a.nb") < col("b.nb"))
      .select(col("a.nb").as("u"), col("b.nb").as("v"), col("a.d").as("d"))
  }

  /** LINK PREDICTION (round-10 continuation) — resource-allocation index
    * over the supplier co-service graph: for each NON-adjacent pair
    * `(u, v)`, `RA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w)`, the classic
    * Zhou–Lü–Zhang predictor, kept exact as `Σ 1000000 div deg(w)`
    * micro-units (deg ≥ 1 always — every w on a wedge has ≥ 2 edges).
    * Candidate pairs are enumerated from WEDGES (two-hop paths through a
    * common neighbor) — never from the node cross product — then existing
    * edges are removed with an anti join and the top-k survives under the
    * TOTAL order `(ra DESC, common DESC, u, v)` (u<v pairs are unique, so
    * the limit is deterministic).
    *
    * The strength threshold is SELF-TUNING: an absolute cut cannot track
    * the fixture's density across SFs (at sf0.01 every supplier pair
    * co-serves ≥ 10 orders — the graph is complete and has no links to
    * predict), so edges survive only STRICTLY ABOVE the
    * `cutPermille`-quantile co-service weight, read off the weight
    * HISTOGRAM (distinct weights ≪ edges) with pure integer rank
    * arithmetic — identical on both engines, no interpolating percentile
    * anywhere. The default is the TOP-DECILE backbone (900): the median
    * cut still leaves this fixture ~50% dense, and measured at sf0.1
    * that means 184M wedges (18.5 s); the 900 cut carries 1.3M (137×
    * less) while still yielding 344k candidate pairs — link prediction
    * is only meaningful on a sparse graph to begin with.
    *
    * Scale: the threshold pass windows over the weight histogram (tiny by
    * construction), never the edge list; the wedge set is Σ deg(w)² over
    * middle vertices — the same quantity [[triangles]] bounds, with the
    * quantile cut as the density knob. Two r13 de-hub treatments (VERDICT
    * r12 #2) keep a residual hub from funneling its d² wedges through one
    * task:
    *
    *   - the wedge self-join is BLOCKED per mid ([[blockedWedges]]): a
    *     hub's d² wedge rows spread over s² shuffle keys with ≤ ~wedgeCap²
    *     rows each, at a replication cost of d·s ≈ d²/wedgeCap rows; light
    *     mids (s = 1) degenerate to the plain self-join.
    *   - the per-mid degree rides ALONG on the blocked rows (deg is joined
    *     once, before the explode) instead of broadcasting the |V|-row
    *     degree table — a plain equi-join AQE may still broadcast when it
    *     is genuinely small.
    *
    * The final top-k is a TakeOrdered, no global sort materializes.
    */
  def linkPredict(spark: SparkSession, dir: String, topK: Int = 20,
      cutPermille: Int = 900, wedgeCap: Int = 1024): DataFrame =
    linkPredictCore(orderSuppliers(spark, dir), topK, cutPermille, wedgeCap)

  /** Hub-heavy skew twin of [[linkPredict]] (the [[trianglesHubSkew]]
    * treatment): suppliers collapse to `l_suppkey % hubMod` super-nodes
    * BEFORE the co-order self-join, so the pair aggregate sees at most
    * C(hubMod, 2) distinct keys each carrying an order-table-sized count,
    * and every surviving mid is a hub — the wedge-blocking path is the
    * plan under load. Identical arithmetic, parameterized oracle. The
    * dense hub graph keeps real non-adjacent pairs only below the median
    * cut, hence the 500 default.
    */
  def linkPredictHubSkew(spark: SparkSession, dir: String, topK: Int = 20,
      cutPermille: Int = 500, hubMod: Long = 8, wedgeCap: Int = 1024): DataFrame = {
    require(hubMod >= 1, s"hubMod must be >= 1, got $hubMod")
    linkPredictCore(orderSuppliers(spark, dir, col("l_suppkey") % hubMod), topK, cutPermille,
      wedgeCap)
  }

  private def linkPredictCore(sup: DataFrame, topK: Int, cutPermille: Int,
      wedgeCap: Int): DataFrame = Materialize { m =>
    require(wedgeCap >= 1, s"wedgeCap must be >= 1, got $wedgeCap")
    val e = sparsifiedCoServiceEdgesFrom(m, sup, cutPermille)
    val wedges = blockedWedges(m, bothWays(e, "mid", "nb"), wedgeCap)
    val scored = wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"), sum(expr("1000000L div d")).as("ra_micros"))
    scored.join(e, Seq("u", "v"), "left_anti")
      .orderBy(col("ra_micros").desc, col("n_common").desc, col("u").asc, col("v").asc)
      .limit(topK)
      .select(col("u"), col("v"), col("n_common").cast("bigint").as("n_common"),
        col("ra_micros").cast("bigint").as("ra_micros"))
  }

  /** The QUANTILE-SPARSIFIED supplier co-service edge stage (the
    * self-tuning cut [[linkPredict]] documents): the u<v edge set strictly
    * above the `permille`-quantile co-service weight, a filter over the
    * weighted pair table that is filled in `m` (500 = the lower median;
    * `cum·1000 ≥ n·permille` is the same integer rank rule — for 500 it
    * is algebraically identical to the `(n+1) div 2` median form the
    * link-predict oracle states). [[lpaCommunities]] cuts at 900: the
    * median graph is still ~50% dense on this fixture and LPA would
    * collapse to one community — the top-decile backbone is where the
    * community structure lives.
    */
  private def sparsifiedCoServiceEdgesFrom(m: Materialize, sup: DataFrame,
      permille: Int): DataFrame = {
    require(permille >= 1 && permille <= 999, s"permille must be in [1, 999], got $permille")
    val ew = m.fill(coServiceWeights(sup)) // before the multi-consumer fan-out (cache-before-AQE rule)
    val hist = ew.groupBy("w").agg(count(lit(1)).as("c"))
    // The weight domain is shared-order COUNTS — its distinct-value count
    // is bounded by the max co-service weight, not the edge count. The
    // quadratic broadcast range join below is the parallel form, but it is
    // only tractable while the histogram stays genuinely small (4096² ≈
    // 17M comparisons); past that, a single-partition running-sum window
    // over the histogram is strictly cheaper (a few thousand 16-byte rows
    // through one task vs billions of nested-loop comparisons), so fall
    // back to it instead of failing.
    val nDistinctW = hist.count()
    val cum =
      if (nDistinctW <= 4096)
        // cum(w) = Σ c over weights ≤ w via a broadcast range join: stays
        // parallel over the histogram instead of single-partition-windowing it
        hist
          .join(broadcast(hist.select(col("w").as("w2"), col("c").as("c2"))), col("w2") <= col("w"))
          .groupBy("w").agg(sum("c2").as("cum"))
      else {
        val win = org.apache.spark.sql.expressions.Window.orderBy("w")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        hist.select(col("w"), sum("c").over(win).as("cum"))
      }
    val thr = cum
      .crossJoin(broadcast(ew.agg(count(lit(1)).as("n"))))
      .filter(col("cum") * 1000 >= col("n") * permille)
      .agg(min("w").as("t"))
    // one job reads the cut, so every consumer of `e` is a filter on the cache
    ew.filter(col("w") > lit(thr.head().get(0))).select("u", "v")
  }

  /** TRIANGLE COUNT + global clustering coefficient (round 10) over the
    * supplier CO-SERVICE projection: suppliers are adjacent when they
    * served at least `minOrders` common orders (the bipartite trade graph
    * itself is triangle-free, so the one-mode projection is where
    * community structure lives; the strength threshold is also the
    * density control — the sf0.1 projection thins 453k raw pairs to 48k
    * edges at the default).
    *
    * The count is the classic oriented two-join: with every edge stored
    * once as `u < v`, a triangle `a<b<c` is found EXACTLY once as
    * e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two hash equi-joins, no direction
    * double-counting, no cartesian anywhere. Wedges come from the degree
    * table (`Σ d(d−1)/2`, integers), so the global clustering
    * coefficient `3·triangles / wedges` lands in exact permille.
    *
    * Scale: per-order supplier pairs are bounded by (suppliers/order)²
    * — a fan-out the fixture caps at ~50, and real procurement data
    * keeps small; the edge aggregate shuffles (u, v) pairs once; the
    * triangle join's intermediate is the wedge set, Σ d² — the
    * threshold parameter is the knob that keeps it subquadratic, which
    * is exactly how production triangle counts run (strength-thresholded
    * or degree-ordered).
    */
  def triangles(spark: SparkSession, dir: String, minOrders: Long = 5L,
      wedgeCap: Int = 1024): DataFrame =
    trianglesCore(orderSuppliers(spark, dir), minOrders, wedgeCap)

  /** Hub-heavy skew twin of [[triangles]]: suppliers collapse to
    * `l_suppkey % hubMod` super-nodes BEFORE the co-order self-join, so
    * the pair aggregation sees at most C(hubMod, 2) distinct (u, v) keys
    * each carrying an order-table-sized row count — the maximally hot
    * aggregate the plain projection never produces. Partial aggregation
    * (map-side count combine) is the property under test; the wedge stage
    * downstream runs over the tiny hub graph unchanged. Identical
    * arithmetic to the plain twin, parameterized oracle.
    */
  def trianglesHubSkew(spark: SparkSession, dir: String,
      minOrders: Long = 5L, hubMod: Long = 8, wedgeCap: Int = 1024): DataFrame = {
    require(hubMod >= 1, s"hubMod must be >= 1, got $hubMod")
    trianglesCore(orderSuppliers(spark, dir, col("l_suppkey") % hubMod), minOrders, wedgeCap)
  }

  private def trianglesCore(sup: DataFrame, minOrders: Long,
      wedgeCap: Int): DataFrame = Materialize { m =>
    require(wedgeCap >= 1, s"wedgeCap must be >= 1, got $wedgeCap")
    // filled before the multi-consumer fan-out (cache-before-AQE rule)
    val e = m.fill(coServiceWeights(sup).filter(col("w") >= minOrders).select("u", "v"))
    val deg = bothWays(e, "n", "nb").groupBy("n").agg(count(lit(1)).as("d"))
    // DEGREE ORIENTATION (the standard wedge-count cut): point every edge
    // from its lower-(degree, id) endpoint, so wedges enumerate only from
    // each triangle's lowest-degree vertex — Σ C(outdeg, 2) with outdeg
    // capped near √(2m), instead of Σ C(deg, 2). Each triangle has
    // exactly ONE vertex with both triangle edges outgoing under a total
    // order on the vertices, so the count stays exact; the closing
    // lookup uses the canonical u<v edge set. Measured ~4× fewer wedge
    // rows on the sf0.1 projection. The degree table is |V| rows — plain
    // equi-joins (AQE broadcasts when genuinely small), never an
    // unconditional broadcast (r13, the linkPredict treatment).
    val lower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("mid"),
        when(lower, col("v")).otherwise(col("u")).as("nb"))
    // BLOCKED (r14): a vertex keeping outdeg ≈ √(2m) would land its ≈ m
    // wedge rows on one task; blocking spreads them, wedges BIT-identical
    val wedges = blockedWedges(m, oriented, wedgeCap)
    val nTri = wedges.join(e, Seq("u", "v"), "left_semi").count()
    deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      .join(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes").cast("bigint").as("n_nodes"),
        col("n_edges").cast("bigint").as("n_edges"),
        col("n_wedges").cast("bigint").as("n_wedges"),
        lit(nTri).as("n_triangles"),
        // NULL when the graph has no wedges (every node degree ≤ 1 — a
        // valid outcome of a harsh minOrders threshold): Spark's ANSI
        // `div 0` would kill the job, DuckDB's `// 0` is NULL — the CASE
        // pins the oracle's semantics (r16 review find, the r15
        // text_quality DIVIDE_BY_ZERO class)
        expr(s"CASE WHEN n_wedges > 0 THEN (3L * ${nTri}L * 1000L) div n_wedges END")
          .as("clustering_permille"))
  }
}
