package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}
import graft.sources.ParquetSource

/** `Probe margins`: operating-margin audit of every TOLERANCE gate in the
  * catalog — the systematic form of what the r17 sf0.1 adversarial sweep
  * found by accident: `ann_pq_check`'s worst query sat at EXACTLY its
  * minHits floor, so one in-contract corpus vector flipped the gate. Each
  * boolean gate discards the distance between the measured value and its
  * bound; this audit reads the raw values through the `*RecallHits` /
  * `marginMiningIvfStats` seams (and re-expresses the sketch/bloom bound
  * arithmetic with the boolean cast removed) and prints, per gate, how
  * much of the error budget the current operating point actually
  * consumes. The recall floors are the `Similarity.*MinHits` constants the
  * gates themselves default to, so a recalibrated floor is audited as is.
  *
  * Output: one `GATEMARGIN` line per gate per fixture dir —
  * `used_permille` = 1000 · consumed/budget (0 = dead center, 1000 = on
  * the floor, >1000 = failing). `KNIFE-EDGE` flags used_permille ≥ 800:
  * a gate that close to its bound is a coin flip on the next corpus and
  * should be recalibrated (the PqShortlist 200→400 treatment) BEFORE a
  * sweep trips it.
  */
object GateMargins {
  private def line(dir: String, gate: String, metric: String,
      usedPermille: Long, detail: String): Unit = {
    val flag = if (usedPermille >= 1000) " FAIL"
      else if (usedPermille >= 800) " KNIFE-EDGE"
      else ""
    println(s"GATEMARGIN dir=${dir.split('/').last} gate=$gate metric=$metric " +
      s"used_permille=$usedPermille $detail$flag")
  }

  /** Recall-floor gates: budget = minHits of the k exact neighbors; the
    * consumed fraction is floor/min_hits (min over queries — the gate
    * fails on its WORST query, so that is the operating point).
    */
  private def recallGate(dir: String, gate: String, floor: Int,
      hits: DataFrame): Unit = {
    val v = hits.orderBy("q_id").collect().map(_.getLong(1))
    val mn = v.min
    val used = if (mn == 0) 2000L else math.round(1000.0 * floor / mn)
    line(dir, gate, s"min_hits=$mn floor=$floor", used, s"hits=[${v.mkString(",")}]")
  }

  def run(spark: SparkSession, dirs: Seq[String]): Unit = {
    graft.functions.GraftFunctions.register(spark)
    for (dir <- dirs) {
      // --- ANN recall-floor family (floors: the gates' own defaults) -----
      recallGate(dir, "ann_sq_check", Similarity.SqMinHits, Similarity.sqRecallHits(spark, dir))
      recallGate(dir, "ann_sq_store_check", Similarity.SqMinHits, Similarity.sqStoreRecallHits(spark, dir))
      recallGate(dir, "ann_ivf_check", Similarity.IvfMinHits, Similarity.ivfRecallHits(spark, dir))
      recallGate(dir, "ann_ivf_skew_check", Similarity.IvfClusteredMinHits, Similarity.ivfClusteredRecallHits(spark, dir))
      recallGate(dir, "ann_ivf_store_check", Similarity.IvfMinHits, Similarity.ivfStoreRecallHits(spark, dir))
      recallGate(dir, "ann_pq_check", Similarity.PqMinHits, Similarity.pqRecallHits(spark, dir))
      recallGate(dir, "ann_pq_store_check", Similarity.PqMinHits, Similarity.pqStoreRecallHits(spark, dir))
      recallGate(dir, "ann_ivfpq_check", Similarity.IvfPqMinHits, Similarity.ivfPqRecallHits(spark, dir))
      recallGate(dir, "ann_ivfpq_store_check", Similarity.IvfPqMinHits, Similarity.ivfPqStoreRecallHits(spark, dir))
      recallGate(dir, "ann_ivfpq_append_check", Similarity.IvfPqMinHits, Similarity.ivfPqAppendRecallHits(spark, dir))

      // --- margin-mining IVF agreement: floor 700 permille ---------------
      locally {
        val (n, covered, agree, flips) = Similarity.marginMiningIvfStats(spark, dir)
        val permille = if (n == 0) 0L else agree * 1000 / n
        val used = if (permille == 0) 2000L else 700L * 1000 / permille
        line(dir, "ann_margin_mining_ivf_check",
          s"agree_permille=$permille floor=700", used,
          s"n=$n covered=$covered flips=$flips")
      }

      // --- embedding-LSH recall 1.0 gate (structural: every exact pair) --
      locally {
        val r = Dedup.embeddingLshRecall(spark, dir)
          .agg(count(lit(1)).as("n"),
            sum(when(col("lsh_found"), 1L).otherwise(0L)).as("found")).head()
        val (n, found) = (r.getLong(0), r.getLong(1))
        line(dir, "dedup_embedding_lsh_check",
          s"found=$found of=$n (recall-1.0 gate, no tolerance budget)",
          if (found == n) 0L else 2000L, "")
      }

      // --- sketch accuracy gates: budget consumption of the 5% bounds ----
      ParquetSource.read(spark, s"$dir/lineitem.parquet").createOrReplaceTempView("gm_li")
      Relational.events(spark, dir).createOrReplaceTempView("gm_events")
      locally {
        val rows = spark.sql(
          """SELECT l_returnflag,
            | abs(graft_hll_distinct(l_partkey) - count(DISTINCT l_partkey))
            |   / (0.05D * count(DISTINCT l_partkey)) AS u_parts,
            | abs(graft_hll_distinct(l_orderkey) - count(DISTINCT l_orderkey))
            |   / (0.05D * count(DISTINCT l_orderkey)) AS u_orders
            |FROM gm_li GROUP BY l_returnflag""".stripMargin).collect()
        val worst = rows.map(r => math.max(r.getDouble(1), r.getDouble(2))).max
        line(dir, "sketch_distinct_check", "hll err vs 5pct bound",
          math.round(worst * 1000), s"groups=${rows.length}")
      }
      locally {
        val rows = spark.sql(
          """WITH sk AS (
            | SELECT event_type, graft_theta_sketch(user_id) AS sk
            | FROM gm_events GROUP BY event_type),
            |du AS (SELECT DISTINCT event_type, user_id FROM gm_events),
            |cnt AS (SELECT event_type, count(*) AS n FROM du GROUP BY event_type),
            |ex AS (
            | SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS exact_both
            | FROM du x JOIN du y ON x.user_id = y.user_id AND x.event_type < y.event_type
            | GROUP BY x.event_type, y.event_type)
            |SELECT
            | abs(graft_theta_intersect_est(a.sk, b.sk) - ex.exact_both)
            |   / (0.05D * ex.exact_both + 1.0D) AS u_both,
            | abs(graft_theta_union_est(a.sk, b.sk) - (ca.n + cb.n - ex.exact_both))
            |   / (0.05D * (ca.n + cb.n - ex.exact_both) + 1.0D) AS u_either
            |FROM sk a JOIN sk b ON a.event_type < b.event_type
            | JOIN ex ON ex.type_a = a.event_type AND ex.type_b = b.event_type
            | JOIN cnt ca ON ca.event_type = a.event_type
            | JOIN cnt cb ON cb.event_type = b.event_type""".stripMargin).collect()
        val worst = rows.map(r => math.max(r.getDouble(0), r.getDouble(1))).max
        line(dir, "sketch_theta_check", "theta err vs 5pct+1 bound",
          math.round(worst * 1000), s"pairs=${rows.length}")
      }
      locally {
        // q50 rank distance from the median, vs the 5-point band (ranks in
        // [45%, 55%] pass; consumption = |rank − 50%| / 5%)
        val rows = spark.sql(
          """WITH q AS (
            | SELECT l_returnflag,
            |  element_at(graft_kll_quantiles(l_quantity, array(0.5D)), 1) AS q50,
            |  count(*) AS n
            | FROM gm_li GROUP BY l_returnflag),
            |rk AS (
            | SELECT l.l_returnflag,
            |  sum(CASE WHEN l.l_quantity <= q.q50 THEN 1 ELSE 0 END) AS r_hi,
            |  sum(CASE WHEN l.l_quantity < q.q50 THEN 1 ELSE 0 END) AS r_lo,
            |  max(q.n) AS n
            | FROM gm_li l JOIN q ON l.l_returnflag = q.l_returnflag
            | GROUP BY l.l_returnflag)
            |SELECT l_returnflag,
            | CASE WHEN 0.5D * n BETWEEN r_lo AND r_hi THEN 0.0D
            |      ELSE least(abs(r_lo / n - 0.5D), abs(r_hi / n - 0.5D)) / 0.05D
            | END AS used
            |FROM rk""".stripMargin).collect()
        val worst = rows.map(_.getDouble(1)).max
        line(dir, "sketch_quantile_check", "kll q50 rank vs 45-55pct band",
          math.round(worst * 1000), s"groups=${rows.length}")
      }
      locally {
        // same sharded-merge path as hllStoreMergeCheck, bound cast removed
        val merged = ParquetSource.read(spark, s"$dir/lineitem.parquet")
          .groupBy("l_returnflag", "l_linenumber")
          .agg(expr("graft_hll_sketch(l_partkey)").as("sk"))
          .groupBy("l_returnflag")
          .agg(expr("graft_hll_merge(sk)").as("est_parts"))
        val exact = ParquetSource.read(spark, s"$dir/lineitem.parquet")
          .groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        val rows = exact.join(merged, "l_returnflag")
          .select((abs(col("est_parts") - col("exact_parts")) /
            (col("exact_parts").cast("double") * 0.05)).as("u")).collect()
        val worst = rows.map(_.getDouble(0)).max
        line(dir, "sketch_hll_merge_check", "merged hll err vs 5pct bound",
          math.round(worst * 1000), s"groups=${rows.length}")
      }
      locally {
        val merged = Relational.events(spark, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(expr("graft_theta_sketch(user_id)").as("sk"))
          .groupBy("event_type")
          .agg(expr("graft_theta_merge_est(sk)").as("est_users"))
        val exact = Relational.events(spark, dir)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        val rows = exact.join(merged, "event_type")
          .select((abs(col("est_users") - col("exact_users")) /
            (col("exact_users").cast("double") * 0.05 + 1.0)).as("u")).collect()
        val worst = rows.map(_.getDouble(0)).max
        line(dir, "sketch_theta_merge_check", "merged theta err vs 5pct+1 bound",
          math.round(worst * 1000), s"groups=${rows.length}")
      }
      locally {
        // merged-KLL q50 rank distance, same band arithmetic as above
        ParquetSource.read(spark, s"$dir/lineitem.parquet")
          .groupBy("l_returnflag", "l_linenumber")
          .agg(expr("graft_kll_sketch(l_quantity)").as("sk"))
          .createOrReplaceTempView("gm_kll_blobs")
        val rows = spark.sql(
          """WITH q AS (
            | SELECT l_returnflag,
            |  element_at(graft_kll_merge_quantiles(sk, array(0.5D)), 1) AS q50
            | FROM gm_kll_blobs GROUP BY l_returnflag),
            |rk AS (
            | SELECT l.l_returnflag,
            |  sum(CASE WHEN l.l_quantity <= q.q50 THEN 1 ELSE 0 END) AS r_hi,
            |  sum(CASE WHEN l.l_quantity < q.q50 THEN 1 ELSE 0 END) AS r_lo,
            |  count(*) AS n
            | FROM gm_li l JOIN q ON l.l_returnflag = q.l_returnflag
            | GROUP BY l.l_returnflag)
            |SELECT CASE WHEN 0.5D * n BETWEEN r_lo AND r_hi THEN 0.0D
            |       ELSE least(abs(r_lo / n - 0.5D), abs(r_hi / n - 0.5D)) / 0.05D
            |       END AS used
            |FROM rk""".stripMargin).collect()
        val worst = rows.map(_.getDouble(0)).max
        line(dir, "sketch_kll_merge_check", "merged kll q50 rank vs band",
          math.round(worst * 1000), s"groups=${rows.length}")
      }

      // --- bloom gates ---------------------------------------------------
      locally {
        ParquetSource.read(spark, s"$dir/orders.parquet")
          .createOrReplaceTempView("gm_bloom_orders")
        val r = spark.sql(
          """WITH members AS (
            | SELECT o_orderkey FROM gm_bloom_orders WHERE o_totalprice > 450000.0D),
            |bf AS (SELECT graft_bloom_build(o_orderkey, 262144, 6) AS bf FROM members),
            |probes AS (
            | SELECT o.o_orderkey,
            |  o.o_totalprice > 450000.0D AS is_member,
            |  graft_bloom_contains(bf.bf, o.o_orderkey) AS hit
            | FROM gm_bloom_orders o CROSS JOIN bf)
            |SELECT
            | sum(CASE WHEN NOT is_member AND hit THEN 1.0D ELSE 0.0D END) AS fp,
            | 4.0D * sum(CASE WHEN NOT is_member THEN 1.0D ELSE 0.0D END) *
            |  pow(1.0D - exp(-6.0D * sum(CASE WHEN is_member THEN 1 ELSE 0 END) / 262144.0D), 6.0D)
            |  + 3.0D AS budget,
            | sum(CASE WHEN is_member AND NOT hit THEN 1 ELSE 0 END) AS fn
            |FROM probes""".stripMargin).head()
        val used = math.round(r.getDouble(0) / r.getDouble(1) * 1000)
        line(dir, "bloom_fpr_check",
          f"fp=${r.getDouble(0)}%.0f budget=${r.getDouble(1)}%.1f fn=${r.getLong(2)}",
          if (r.getLong(2) > 0) 2000L else used, "")
      }
      locally {
        val exact = TextAnalysis.decontaminate(spark, dir)
          .select(col("doc_id"), col("contaminated"))
        val bloom = TextAnalysis.decontaminateBloom(spark, dir)
          .select(col("doc_id"), col("contaminated_bloom"))
        val r = exact.join(bloom, Seq("doc_id"))
          .agg(
            sum(when(col("contaminated") && !col("contaminated_bloom"), 1L)
              .otherwise(0L)).as("fn"),
            (sum(when(!col("contaminated") && col("contaminated_bloom"), 1L)
              .otherwise(0L)).cast("double") /
              sum(when(!col("contaminated"), 1L).otherwise(0L))).as("fp_frac"))
          .head()
        val used = math.round(r.getDouble(1) / 0.01 * 1000)
        line(dir, "text_decontaminate_bloom_check",
          f"fp_frac=${r.getDouble(1)}%.5f bound=0.01 fn=${r.getLong(0)}",
          if (r.getLong(0) > 0) 2000L else used, "")
      }

      // --- lm-xent pruned delta vs its 450-permille bound ----------------
      locally {
        val r = TextAnalysis.lmCrossEntropyPrunedCheck(spark, dir).head()
        val sumExact = r.getLong(2)
        val sumDelta = r.getLong(3)
        val used = if (sumExact == 0) 0L else sumDelta * 1000000 / (sumExact * 450)
        line(dir, "text_lm_xent_pruned_check",
          s"delta_permille=${sumDelta * 1000 / math.max(sumExact, 1)} bound=450",
          used, s"violations=${r.getLong(1)}")
      }
    }
    println("GATEMARGIN DONE")
  }
}
