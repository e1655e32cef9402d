package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** r18: the pageRank superstep is checkpoint-opaque from the outside
  * (pageRank returns a localCheckpointed frame), so this probe mirrors
  * pageRankCore's loop inline in three variants and times them:
  *
  *   - classic — r17 shape: edges (src,dst,outdeg) partitioned by src,
  *     per-superstep join + union(zero rows) + groupBy(node) exchange
  *   - dstpart — edges partitioned by DST: under the broadcast-join regime
  *     (|V| rows fit a broadcast) the join output stays dst-partitioned,
  *     so the per-superstep aggregate needs NO exchange; isolated nodes
  *     are re-attached once at the end instead of riding every union
  *   - dstf — dstpart + narrow (src,dst) cache with `pr div outdeg`
  *     computed per NODE before the join instead of per edge
  *
  * Usage: runMain graft.tools.SuperstepProbe [--explain=<dir>] [sfDir] [iters] [modes]
  */
object SuperstepProbe {
  def main(argv: Array[String]): Unit = {
    // flags may come anywhere; `args` are the positional arguments
    val args = argv.filterNot(_.startsWith("--"))
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionFactory.builder(s"local[$cpus]", "superstep-probe", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val shuffleN = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val scale = 1000000000L
    val dampPct = 85L
    val base = scale * (100L - dampPct) / 100L

    def nodesDf() = spark.read.parquet(s"$dir/customer.parquet")
      .select((col("c_custkey") * 2).as("node"))
      .unionAll(spark.read.parquet(s"$dir/supplier.parquet")
        .select((col("s_suppkey") * 2 + 1).as("node")))

    def run(mode: String, printPlan: Boolean): (Double, Long) = {
      val (pairs, edges0) = graft.operators.Graph.tradeEdgesFrom(
        spark, dir, col("l_suppkey") * 2 + 1)
      val t0 = System.nanoTime()
      val nodes = nodesDf().persist(StorageLevel.MEMORY_AND_DISK)
      nodes.count()
      var out: DataFrame = null
      val caches = scala.collection.mutable.ArrayBuffer[DataFrame](pairs, nodes)
      mode match {
        case "classic" =>
          val edges = edges0.repartition(shuffleN, col("src"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          caches += edges
          var ranks = nodes.withColumn("pr", lit(scale))
          for (i <- 1 to iters) {
            val contrib = ranks
              .join(edges, ranks("node") === edges("src"))
              .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
              .unionAll(nodes.select(col("node"), lit(0L).as("c")))
            ranks = contrib.groupBy("node")
              .agg((lit(base) + expr(s"($dampPct * sum(c)) div 100")).as("pr"))
            if (i % 4 == 0 && i < iters) ranks = ranks.localCheckpoint()
          }
          out = ranks
        case "dstpart" | "dstf" =>
          val narrow = mode == "dstf"
          val edges = (if (narrow) edges0.select("src", "dst") else edges0)
            .repartition(shuffleN, col("dst"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          caches += edges
          val deg = if (narrow)
            Some(edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
              .select(col("src").as("node"), col("outdeg"))
              .persist(StorageLevel.MEMORY_AND_DISK))
          else None
          deg.foreach { d => d.count(); caches += d }
          val connected = edges.select(col("src").as("node")).distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
          connected.count()
          caches += connected
          val isolated = nodes.join(connected, Seq("node"), "left_anti")
            .localCheckpoint(true)
          var ranks = connected.withColumn("pr", lit(scale))
          for (i <- 1 to iters) {
            val f =
              if (narrow) ranks.join(deg.get, "node")
                .select(col("node").as("src"), expr("pr div outdeg").as("c"))
              else ranks.select(col("node"), col("pr"))
            val contrib =
              if (narrow) broadcast(f).join(edges, "src")
                .select(col("dst").as("node"), col("c"))
              else broadcast(f).join(edges, f("node") === edges("src"))
                .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
            ranks = contrib.groupBy("node")
              .agg((lit(base) + expr(s"($dampPct * sum(c)) div 100")).as("pr"))
            if (i % 4 == 0 && i < iters) ranks = ranks.localCheckpoint()
          }
          out = ranks.unionAll(isolated.withColumn("pr",
            lit(if (iters == 0) scale else base)))
      }
      // checksum over (node, pr): order-insensitive, catches any value drift
      val n = out.select(xxhash64(col("node"), col("pr")).as("h"))
        .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
      val wall = (System.nanoTime() - t0) / 1e9
      if (printPlan)
        println(out.queryExecution.executedPlan.toString.linesIterator
          .filter(l => l.contains("Exchange") || l.contains("HashAggregate") ||
            l.contains("Join") || l.contains("InMemoryTableScan"))
          .take(40).mkString("\n"))
      caches.foreach(_.unpersist(false))
      (wall, n)
    }

    // --explain=<dir>: dump the formatted 2-superstep plans (classic =
    // the r17 shape = the shuffle-regime fallback; dstpart = the r18
    // broadcast-regime shape) as the committed before/after evidence
    argv.collectFirst { case a if a.startsWith("--explain=") => a.drop(10) }
      .foreach { d =>
        new java.io.File(d).mkdirs()
        def dump(mode: String, file: String): Unit = {
          val (pairs, edges0) = graft.operators.Graph.tradeEdgesFrom(
            spark, dir, col("l_suppkey") * 2 + 1, fillCache = false)
          val nodes = nodesDf()
          var ranks = nodes.withColumn("pr", lit(scale))
          val frame = mode match {
            case "classic" =>
              val edges = edges0.repartition(shuffleN, col("src"))
              for (_ <- 1 to 2) {
                val contrib = ranks
                  .join(edges, ranks("node") === edges("src"))
                  .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
                  .unionAll(nodes.select(col("node"), lit(0L).as("c")))
                ranks = contrib.groupBy("node")
                  .agg((lit(base) + expr(s"($dampPct * sum(c)) div 100")).as("pr"))
              }
              ranks
            case _ =>
              val edges = edges0.repartition(shuffleN, col("dst"))
                .persist(StorageLevel.MEMORY_AND_DISK)
              val connected = edges.select(col("src").as("node")).distinct()
              var r = connected.withColumn("pr", lit(scale))
              for (_ <- 1 to 2) {
                val contrib = broadcast(r)
                  .join(edges, r("node") === edges("src"))
                  .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
                r = contrib.groupBy("node")
                  .agg((lit(base) + expr(s"($dampPct * sum(c)) div 100")).as("pr"))
              }
              edges.unpersist(false)
              r
          }
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/$file"),
            frame.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          pairs.unpersist(false)
        }
        dump("classic", "graph_pagerank_superstep_before.txt")
        dump("dstpart", "graph_pagerank_superstep_after.txt")
        println(s"explain dumps written to $d")
        spark.stop()
        return
      }
    // checksum parity first, then interleaved timing; arg 3 reorders the
    // legs (PROTOCOL.md order-reversal control)
    val modes = args.drop(2).headOption.map(_.split(',').toSeq)
      .getOrElse(Seq("classic", "dstpart", "dstf"))
    for (m <- modes) {
      val (_, n) = run(m, printPlan = false)
      println(s"warm $m checksum=$n")
    }
    for (cycle <- 1 to 3; m <- modes) {
      val (w, _) = run(m, printPlan = false)
      println(f"cycle $cycle $m%-8s wall=$w%6.2f s")
    }
    spark.stop()
  }
}
