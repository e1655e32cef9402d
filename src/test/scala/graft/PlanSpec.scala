package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Automated plan-shape guards — the properties that make these queries
  * survive a 100×–1000× scale-up. A regression here (lost pushdown, a join
  * degrading to sort-merge-with-full-shuffle, an extra exchange) fails CI
  * even while results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }
  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("partition filters are pushed to the parquet scan (F1)") {
    val plan = formatted("f1_partition_monthly")
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("LessThan(l_shipdate"), plan)
  }

  test("q3 join: small-SF sides broadcast BY SIZE, fact never shuffles before agg") {
    // r13: q3 carries no broadcast hints (orders/customer scale with the
    // fact) — at test SF the planner must still pick broadcast joins from
    // the actual file sizes, proving the hint was never needed for the
    // good small-scale plan while the 100 TB plan degrades to shuffles
    // instead of OOMing the driver.
    val plan = executedPlan("q3_join_agg")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // exactly one shuffle: the partial->final aggregation exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  test("q3 top-k uses TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan("q3_join_agg")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("column pruning: type projection reads only required columns") {
    val plan = formatted("p4_type_projection")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_extendedprice"), s"pruning lost: $readSchema")
    assert(!readSchema.contains("l_partkey"), s"pruning lost: $readSchema")
  }

  test("q1 agg has map-side partial aggregation") {
    val plan = executedPlan("q1_agg")
    assert(plan.contains("partial_"), plan)
  }

  test("minhash signature stage is map-only (no shuffle before banding join)") {
    val sigs = graft.operators.Dedup.minhashSignatures(spark, dir)
    val plan = sigs.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signature stage must not shuffle:\n$plan")
  }

  test("text operators are single-scan, shuffle-free projections") {
    for (q <- Seq("text_token_count", "text_quality", "text_langid", "text_fingerprint", "multimodal_meta")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"), s"$q should be map-only:\n$plan")
    }
  }

  test("custom expressions appear in plans (codegen path, not HOF fallback)") {
    val plan = executedPlan("text_fingerprint")
    assert(plan.contains("polyhash") || plan.contains("PolyHash"), plan)
  }

  test("q5 multi-join: all dims broadcast at test SF, only the fact-fact join shuffles") {
    val plan = executedPlan("q5_multi_join")
    // nation/region broadcast by hint (fixed 25/5 rows); supplier/customer
    // broadcast BY SIZE at test SF (r13: their hints are gone — they scale
    // with the fact, so at 100 TB they shuffle instead of OOMing);
    // at tiny SF the planner may broadcast the orders side too (5th)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 4, s"expected >=4 broadcast joins (supp/cust/nation/region), got $bhj:\n$plan")
    // lineitem⋈orders may be SMJ or shuffled hash — but never nested-loop
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("r13: TPC-H joins hint-broadcast only fixed-size dims or scalar reductions") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // Every SF-scaling table grows linearly with the fact (orders ~1/4 of
    // lineitem's rows, customer ~1/15, part ~1/5, supplier ~1/150): a
    // broadcast HINT on any of them forces a terabyte side driver-side at
    // 100 TB. Only nation (25 rows), region (5) and single-row scalar
    // reductions may carry a hint; everything else is AQE's runtime call.
    val scaling = Set("lineitem", "orders", "customer", "supplier", "part",
      "events", "documents", "embeddings")
    def scansScaling(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(rp =>
          scaling.exists(tbl => rp.getName == s"$tbl.parquet"))
        case _ => false
      }
      case _ => false
    }
    def scalarReduction(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate if a.groupingExpressions.isEmpty => a }.nonEmpty
    val rows = Seq("q1_agg", "q2_min_cost_supplier", "q3_join_agg", "q4_priority_wait",
      "q5_multi_join", "q6_forecast_revenue", "q7_nation_volume", "q8_market_share",
      "q9_profit_by_nation", "q10_returned_items", "q11_important_share",
      "q12_shipmode_priority", "q13_custdist", "q14_promo_share", "q15_top_supplier",
      "q16_supplier_variety", "q17_small_qty", "q18_large_orders",
      "q19_discounted_revenue", "q20_excess_suppliers", "q21_waiting_supplier",
      "q22_global_sales", "customer_rfm", "q_ntile_skew")
    for (q <- rows) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      plan.foreach {
        case j: Join =>
          for ((side, hinted) <- Seq(
              (j.left, j.hint.leftHint.nonEmpty), (j.right, j.hint.rightHint.nonEmpty))
            if hinted)
            assert(scalarReduction(side) || !scansScaling(side),
              s"$q: broadcast hint forces an SF-scaling side driver-side:\n$side")
        case _ => ()
      }
    }
  }

  test("semi/anti joins stay broadcast with no extra exchange") {
    for (q <- Seq("q_semi_join", "q_anti_join")) {
      val plan = executedPlan(q)
      assert(plan.contains("LeftSemi") || plan.contains("LeftAnti"), s"$q:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q should broadcast the filtered orders side:\n$plan")
    }
  }

  test("r12: shingle postings stages are native codegen expressions, no interpreted lambda") {
    graft.functions.GraftFunctions.register(spark)
    val P1 = graft.functions.Portable.P1
    // the containment / winnowing-overlap postings projections as the
    // operators build them — the hot scan stage must carry the native
    // expressions and zero HOF lambdas (HOFs are CodegenFallback)
    val contain = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "explode(array_distinct(graft_shingle_hash60(text, 12))) AS s")
    val winnow = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id",
        s"explode(array_distinct(graft_window_min(graft_shingle_poly(text, 8, 31, ${P1}L), 4))) AS h")
    for ((df, names) <- Seq(
        contain -> Seq("shinglehash60"),
        winnow -> Seq("shinglepolyhash", "windowmin"))) {
      val plan = df.queryExecution.executedPlan.toString.toLowerCase
      names.foreach(n => assert(plan.contains(n), s"missing native $n:\n$plan"))
      assert(!plan.contains("lambdafunction"),
        s"interpreted HOF lambda survived in the postings stage:\n$plan")
    }
  }

  test("optimizer rule collapses the poly-hash HOF into the codegen array expression") {
    graft.functions.GraftFunctions.register(spark)
    val P1 = graft.functions.Portable.P1
    val hof = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr(s"doc_id", s"transform(split(trim(text), '\\\\s+'), s -> graft_poly_hash(s, 31, ${P1}L)) AS h")
    // the optimized plan must contain PolyHashArray, not an interpreted lambda
    val optimized = hof.queryExecution.optimizedPlan
    assert(optimized.expressions.exists(_.exists(_.isInstanceOf[graft.functions.PolyHashArray])),
      s"NativeHashRewrite did not fire:\n$optimized")
    // and the rewrite must be value-preserving vs the explicit native call
    val native = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", s"graft_poly_hash_array(split(trim(text), '\\\\s+'), 31, ${P1}L) AS h")
    assert(hof.exceptAll(native).isEmpty && native.exceptAll(hof).isEmpty)
  }

  test("decontamination: eval grams broadcast, corpus side never shuffles text") {
    val plan = executedPlan("text_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), s"eval gram set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sequence packing windows are per-shard, never a single global partition") {
    val df = SparkEntry.queries("text_pack_sequences")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"packing must parallelize by shard, not one global sort partition:\n$plan")
  }

  test("embedding dedup is a grid equi-join, never a nested-loop product") {
    val plan = executedPlan("dedup_embedding")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"exact embedding dedup must distribute via the block grid key:\n$plan")
  }

  test("LSH embedding dedup plan has no nested-loop product either") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val plan = graft.operators.Materialize.inspect(graft.operators.Dedup.embeddingNearDupsLsh(vecs, 0.9))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // r14: the bucket self-join must carry the skew blocks in its join key
    // (a.bs = b.bo AND a.bo = b.bs) — losing them silently restores the
    // hot-bucket straggler the blocked join removed (C(n_b,2) pairs of a
    // dense semantic cluster generated on the one task owning the key)
    assert(plan.contains("bs") && plan.contains("bo"),
      s"blocked-bucket keys missing from the LSH candidate join:\n$plan")
  }

  test("r14: lshBitsFor holds expected bucket occupancy under corpus growth") {
    import graft.operators.Dedup.lshBitsFor
    // 8× corpus → +3 bits (2^3 more buckets), occupancy unchanged
    assert(lshBitsFor(2048, 16) == 7)
    assert(lshBitsFor(2048 * 8, 16) == 10)
    // clamps: tiny corpora don't underflow, huge ones cap at 24 bits
    assert(lshBitsFor(1, 16) == 4)
    assert(lshBitsFor(Long.MaxValue / 2, 16) == 24)
    // monotone in n
    val bits = Seq(1000L, 10000L, 100000L, 1000000L).map(lshBitsFor(_, 16))
    assert(bits == bits.sorted, bits.toString)
  }

  test("range join is bucketized equi-join, never a nested-loop product") {
    val plan = executedPlan("events_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must go through the bucket equi key:\n$plan")
  }

  test("line dedup: boiler mark join is size-gated (no unconditional broadcast), equi-keyed") {
    val df = graft.operators.Materialize.inspect(graft.operators.TextAnalysis.lineDedup(spark, dir))
    // r13 (VERDICT r12 #3): the boilerplate set grows with corpus
    // duplication, so no broadcast HINT may force it driver-side — any
    // broadcast must be AQE's runtime size call. The optimizer folds
    // `broadcast(...)` into the Join node's JoinHint, so zero join-strategy
    // hints across the optimized plan pins exactly that.
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j.hint
    }
    assert(hinted.isEmpty, s"unconditional broadcast hint on the boiler side:\n$hinted")
    val plan = df.queryExecution.executedPlan.toString
    // still an equi-join on seg, never a degraded nested loop
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("r14: dedup family carries no join-strategy hints (crowded prune + incremental joins are AQE's call)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // VERDICT r13 #1/#2: the crowded-bucket prune list grows with the
    // corpus ((docs×bands)/MaxBucketSize) and an increment can be a
    // backfill (≈ corpus) — neither may be FORCED driver-side by a
    // broadcast hint. AQE still broadcasts them at runtime when they fit;
    // the contract pinned here is that the decision is size-based, not
    // hard-coded. Walks every seam of the de-hinted family: the plain LSH
    // path (crowded prune at candidatesFrom), the sig-filtered n-gram
    // path (second crowded prune), the incremental band join, and the
    // embedding-increment bucket join.
    val frames = graft.operators.Materialize.inspect(Seq(
      "dedup_minhash" -> graft.operators.Dedup.minhashNearDups(spark, dir),
      "dedup_ngram" -> graft.operators.Dedup.ngramNearDups(spark, dir),
      "dedup_jaccard_exact" -> graft.operators.Dedup.jaccardPrefixNearDups(spark, dir),
      "dedup_incremental" -> graft.operators.Dedup.incrementalNearDups(spark, dir),
      "dedup_embedding_lsh" -> graft.operators.Dedup.embeddingNearDupsLsh(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))),
      "dedup_embedding_incremental" -> {
        val base = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        graft.operators.Dedup.embeddingIncrementalFrom(base,
          base.limit(5).withColumn("vec_id", col("vec_id") + 100000L))
      },
      // r14 addition: the SemDeDup within-cluster pair join — cluster
      // sizes grow with the corpus at fixed k, so neither self-join side
      // nor the cluster-count frame may be hint-forced
      "dedup_semdedup" -> graft.operators.Dedup.semDeDupFrom(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")))))
    for ((name, df) <- frames) {
      val hinted = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j.hint
      }
      assert(hinted.isEmpty, s"$name: join-strategy hint on a corpus/increment-scaling side:\n$hinted")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name degraded to a non-equi join:\n$plan")
    }
  }

  test("r13: margin-mining IVF path is all equi-joins — no nested-loop, no cartesian, no hints") {
    // the production mining path must never inherit the exact gate's
    // query-side broadcast cross join (VERDICT r12 #6)
    val df = graft.operators.Materialize.inspect(graft.operators.Similarity.marginMiningIvf(spark, dir))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"IVF margin mining degraded to a non-equi join:\n$plan")
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j.hint
    }
    assert(hinted.isEmpty, s"unconditional join hint in the IVF path:\n$hinted")
  }

  test("r14: ANN family hint-broadcasts only query-bounded, local, or scalar sides") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // The TPC-H / dedup hint-audit discipline applied to the ANN query
    // paths: their broadcast() hints are LEGITIMATE — the hinted side is
    // always the query set (a literal-bounded filter like vec_id < 5 over
    // the corpus) or a driver-built param frame (LocalRelation) — and this
    // walker pins that boundedness so a refactor can never silently move a
    // hint onto an unbounded corpus scan (cached or not: InMemoryRelation
    // leaves count as corpus too).
    def literalBoundedFilter(p: LogicalPlan): Boolean =
      p.collectFirst {
        case f: Filter if f.condition.collectFirst { case l: Literal => l }.nonEmpty => f
      }.nonEmpty
    def scalarReduction(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate if a.groupingExpressions.isEmpty => a }.nonEmpty
    def corpusLeaf(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case _: LogicalRelation | _: InMemoryRelation => true
      case _ => false
    }
    def hintedViolations(plan: LogicalPlan): Seq[LogicalPlan] = {
      val bad = Seq.newBuilder[LogicalPlan]
      plan.foreach {
        case j: Join =>
          for ((side, hinted) <- Seq(
              (j.left, j.hint.leftHint.nonEmpty), (j.right, j.hint.rightHint.nonEmpty))
            if hinted)
            if (corpusLeaf(side) && !literalBoundedFilter(side) && !scalarReduction(side))
              bad += side
        case _ => ()
      }
      bad.result()
    }
    // negative control: the walker must flag a hint on an UNBOUNDED corpus
    // scan, or every green row below is vacuous
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bad = emb.join(
      org.apache.spark.sql.functions.broadcast(emb.withColumnRenamed("vec_id", "b_id"))
        .select(col("b_id")),
      col("vec_id") === col("b_id"))
    assert(hintedViolations(bad.queryExecution.optimizedPlan).nonEmpty,
      "walker failed to flag a broadcast hint on an unbounded corpus scan")
    for (q <- Seq("ann_topk", "ann_lsh", "ann_ivf", "ann_pq", "ann_sq",
        "ann_ivfpq", "ann_hard_negatives")) {
      val v = hintedViolations(SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan)
      assert(v.isEmpty, s"$q: broadcast hint on an unbounded corpus side:\n${v.mkString("\n")}")
    }
  }

  test("r15: text/graph/multimodal families hint-broadcast only reduced, bounded, or local sides") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // VERDICT r14 #4: the TPC-H/dedup/ANN hint audit extended to the
    // remaining catalog families (TextAnalysis carries 25 broadcast sites,
    // Graph 4, Relational's stats rows 18). The mechanical contract pinned
    // here is the one whose violation produced the r13 Dedup findings: a
    // broadcast hint must NEVER sit on an UN-REDUCED corpus side. A hinted
    // side is legitimate iff it
    //   - touches no corpus leaf at all (LocalRelation / driver params), or
    //   - passes the corpus through an Aggregate (scalar reductions AND
    //     grouped histograms: the group-key boundedness is each family's
    //     documented argument — Zipf-capped vocab, <=4096-weight histogram,
    //     numBuckets-row cost models, |sources| strata), or
    //   - is a literal-bounded Filter (query/eval sets), or
    //   - scans only the FIXED tables (nation: 25 rows, region: 5).
    val fixed = Set("nation", "region")
    def corpusLeaf(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => !fs.location.rootPaths.forall(rp =>
          fixed.exists(tbl => rp.getName == s"$tbl.parquet"))
        case _ => true
      }
      case _: InMemoryRelation => true
      case _ => false
    }
    def reduced(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate => a }.nonEmpty
    def literalBoundedFilter(p: LogicalPlan): Boolean =
      p.collectFirst {
        case f: Filter if f.condition.collectFirst { case l: Literal => l }.nonEmpty => f
      }.nonEmpty
    def violations(plan: LogicalPlan): Seq[LogicalPlan] = {
      val bad = Seq.newBuilder[LogicalPlan]
      plan.foreach {
        case j: Join =>
          for ((side, hinted) <- Seq(
              (j.left, j.hint.leftHint.nonEmpty), (j.right, j.hint.rightHint.nonEmpty))
            if hinted)
            if (corpusLeaf(side) && !reduced(side) && !literalBoundedFilter(side))
              bad += side
        case _ => ()
      }
      bad.result()
    }
    // negative control: a hint on a raw (un-reduced, un-filtered) corpus
    // projection must be flagged, or every green row below is vacuous
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bad = docs.join(
      org.apache.spark.sql.functions.broadcast(
        docs.select(col("doc_id").as("b_id"))),
      col("doc_id") === col("b_id"))
    assert(violations(bad.queryExecution.optimizedPlan).nonEmpty,
      "walker failed to flag a broadcast hint on an un-reduced corpus side")
    // every catalog row of the families named by the verdict item —
    // materialized rows (Scan ExistingRDD) pass vacuously here; their
    // unmaterialized twins are walked by the dedicated tests above
    val families = Seq("text_", "graph_", "mm_", "multimodal_", "pipeline_",
      "sample_", "stats_", "corpus_")
    val rows = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => families.exists(n.startsWith))
    assert(rows.size >= 60, s"family filter lost the catalog: ${rows.size} rows")
    for (q <- rows) {
      val v = violations(SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan)
      assert(v.isEmpty, s"$q: broadcast hint on an un-reduced corpus side:\n${v.mkString("\n")}")
    }
  }

  test("r13: hashed line dedup shuffles key on the segment fingerprint, never segment text") {
    val df = graft.operators.Materialize.inspect(graft.operators.TextAnalysis.lineDedupHashed(spark, dir))
    val plan = df.queryExecution.executedPlan.toString
    // the frequency count and the mark join must both exchange on gh;
    // segment strings may only cross the final reassembly exchange
    // (keyed on doc_id — that exchange IS the output)
    assert(plan.contains("hashpartitioning(gh"),
      s"expected boiler-side exchanges on the 60-bit fingerprint:\n$plan")
    assert(!plan.contains("hashpartitioning(seg"),
      s"boiler-side shuffles must never key on segment text:\n$plan")
    // same no-hint contract as the exact-string form
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j.hint
    }
    assert(hinted.isEmpty, s"unconditional broadcast hint on the boiler side:\n$hinted")
  }

  test("r9: the 3-step funnel composes TWO native as-of execs, no window, no generic join") {
    val plan = executedPlan("events_funnel3_native")
    val asofs = "AsOfJoin ".r.findAllIn(plan).size
    assert(asofs == 2, s"expected both funnel steps on the native exec, got $asofs:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"no window/generic-join fallback allowed:\n$plan")
  }

  test("perplexity bucketing: no window over a corpus-sized single partition") {
    // boundary search runs on the chunked value histogram; the only
    // windows are per-cb local cums — a SinglePartition window would mean
    // the whole xent distribution sorts on one task
    val plan = graft.operators.Materialize.inspect(graft.operators.TextAnalysis.pipelinePplBuckets(spark, dir))
      .queryExecution.executedPlan.toString
    val windows = plan.split("\n").filter(_.contains("Window"))
    assert(!windows.exists(_.contains("SinglePartition")),
      s"tercile cum-count must stay chunk-partitioned:\n${windows.mkString("\n")}")
    // boundary row broadcasts; only the deliberate 1-row cross joins exist
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("prefix-filter exact Jaccard join: fingerprint-keyed equi-joins, no nested loop") {
    val plan = graft.operators.Materialize.inspect(graft.operators.Dedup.jaccardPrefixNearDups(spark, dir, 3, 5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"prefix filtering must candidate-join on the prefix fingerprint:\n$plan")
    // every exchange keys on the 60-bit gh fingerprint or doc ids — the
    // shingle text must be folded before any shuffle
    assert(plan.contains("hashpartitioning(gh"),
      s"expected df-count/prefix-join exchanges on the gh fingerprint:\n$plan")
    assert(!plan.contains("hashpartitioning(shingle"),
      s"shuffles must never carry shingle text:\n$plan")
  }

  test("substring dup score: no nested loop, no raw window text in any shuffle") {
    val plan = executedPlan("text_substring_dup")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // the dup-window set is corpus-derived (GBs on a duplicated 100 TB
    // corpus) so it must NOT be force-broadcast — and every exchange must
    // key on the 8-byte fingerprint, never the raw gram strings
    assert(!plan.contains("hashpartitioning(gram"),
      s"shuffles must carry the 60-bit fingerprint, not window text:\n$plan")
    assert(plan.contains("hashpartitioning(gh"),
      s"expected the df-count / mark-join exchanges on the gh fingerprint:\n$plan")
  }

  test("LM cross-entropy: every exchange keys on a fingerprint, never token text") {
    val plan = executedPlan("text_lm_xent")
    assert(!plan.contains("CartesianProduct"), plan)
    // the model join is a plain equi-join on the 8-byte fingerprint (AQE
    // sizes it); only the 1-row vocabulary scalar may broadcast-nest
    assert(!plan.contains("hashpartitioning(bigram") && !plan.contains("hashpartitioning(prev"),
      s"count/join exchanges must carry 60-bit fingerprints, not token strings:\n$plan")
    assert(plan.contains("hashpartitioning(fp_pair"),
      s"expected pair-count / score-join exchanges on fp_pair:\n$plan")
    // r9 pruned twin: same fingerprint discipline, and the per-context
    // top-K selection must be the bounded-heap partial/merge aggregate —
    // never a row_number window over the pair table
    val pruned = executedPlan("text_lm_xent_pruned")
    assert(!pruned.contains("Window "), s"pruned top-K fell back to a window:\n$pruned")
    assert(pruned.contains("partial_topk") || pruned.contains("partial_graft_topk"),
      s"pruned top-K missing map-side partial heap:\n$pruned")
    assert(!pruned.contains("hashpartitioning(bigram") && !pruned.contains("hashpartitioning(prev"),
      s"pruned exchanges must carry fingerprints, not token strings:\n$pruned")
  }

  test("bloom decontamination probes map-side: no join against the eval-gram set") {
    val plan = executedPlan("text_decontaminate_bloom")
    assert(plan.toLowerCase.contains("bloomcontains"),
      s"corpus grams must be probed by the bloom expression before any shuffle:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // the only joins are the per-doc restore (doc_id); the eval set itself
    // must never appear as a join side
    assert(!plan.contains("hashpartitioning(gram"),
      s"no exchange may carry gram text:\n$plan")
  }

  test("equi-depth histogram: every window is partitioned — no SinglePartition window") {
    val df = SparkEntry.queries("stats_histogram_eqdepth")(spark, dir)
    // AQE wraps the plan in AdaptiveSparkPlanExec, a leaf wrapper that
    // collect() does not recurse into — unwrap to the inner physical plan
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the chunk-local cumulative window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"cumulative sum must be chunk-partitioned, not a global window:\n$w")
    }
  }

  test("incremental dedup: the new-increment side broadcasts against the corpus") {
    val plan = graft.operators.Materialize.inspect(graft.operators.Dedup.incrementalNearDups(spark, dir, 0.6))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"new-side bands must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("embedding incremental dedup: new-side buckets broadcast, no nested loop") {
    val base = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val inc = base.filter(col("vec_id") < 20)
    val plan = graft.operators.Materialize.inspect(graft.operators.Dedup.embeddingIncrementalFrom(base, inc, 0.7))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"new-side buckets must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("session_window aggregation is one shuffle on the session key") {
    val plan = executedPlan("events_session_window")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 shuffle (user_id), got $exchanges:\n$plan")
    assert(!plan.contains("Window "), s"native session_window must not fall back to window functions:\n$plan")
  }

  test("text_chunk is a map-only generator: zero exchanges, text+id scan only") {
    val plan = executedPlan("text_chunk")
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    val read = formatted("text_chunk").linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("source"), s"pruning lost: $read")
  }

  test("layout_zorder query is map-only; cluster is exactly one range exchange") {
    val plan = executedPlan("layout_zorder")
    assert(!plan.contains("Exchange"), s"z-value projection must not shuffle:\n$plan")
    val clustered = graft.operators.Layout.cluster(
      spark.read.parquet(s"$dir/lineitem.parquet"), "l_partkey", "l_suppkey", 8)
    val cplan = clustered.queryExecution.executedPlan.toString
    assert(cplan.contains("rangepartitioning"), cplan)
    val exchanges = "Exchange ".r.findAllIn(cplan).size
    assert(exchanges == 1, s"expected only the range exchange, got $exchanges:\n$cplan")
  }

  test("bloom semi-join: probe is a scan-side filter BELOW the join, no nested loop") {
    val plan = executedPlan("q_bloom_semi_join")
    assert(!plan.contains("SortMergeJoin"), s"semi-join degraded to sort-merge:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"probe became a join again (Catalyst would hoist it above the semi-join):\n$plan")
    // the probe must be a Filter in the fact scan's stage, physically
    // below the semi-join operator — i.e. it prunes before the join
    val lines = plan.linesIterator.toVector
    val joinIdx = lines.indexWhere(_.contains("LeftSemi"))
    val probeIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("bloomcontains"))
    assert(joinIdx >= 0, s"no semi-join in plan:\n$plan")
    assert(probeIdx > joinIdx, s"bloom probe not below the semi-join:\n$plan")
  }

  test("stratified sample: one exchange (the per-stratum window), scan pruned to text+keys") {
    val df = SparkEntry.queries("sample_stratified")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("ANN rank selection is a partial/merge heap aggregate, not a per-query window") {
    // Round-6 scale fix: every ranked output in the ANN family (including
    // the PQ-ADC shortlist, whose input is the whole coded corpus ×
    // nQueries) must select top-k via the bounded-heap graft_topk partial
    // aggregate — never by shuffling scored candidates into nQueries
    // row_number window partitions.
    // lsh/ivf/pq materialize their results (cache-release discipline), so
    // the executed plan of the catalog entry is a Scan ExistingRDD — use
    // Materialize.inspect to see the real plan shape.
    val plans = Map(
      "ann_topk" -> executedPlan("ann_topk"),
      "ann_lsh" -> graft.operators.Materialize.inspect(graft.operators.Similarity.lshTopK(spark, dir))
        .queryExecution.executedPlan.toString,
      "ann_ivf" -> graft.operators.Materialize.inspect(graft.operators.Similarity.ivfTopK(spark, dir))
        .queryExecution.executedPlan.toString,
      "ann_pq" -> graft.operators.Materialize.inspect(graft.operators.Similarity.pqTopK(spark, dir))
        .queryExecution.executedPlan.toString,
      "ann_ivfpq" -> graft.operators.Materialize.inspect(graft.operators.Similarity.ivfPqTopK(spark, dir))
        .queryExecution.executedPlan.toString)
    for ((q, plan) <- plans) {
      assert(!plan.contains("Window "), s"$q fell back to a window top-k:\n$plan")
      assert(plan.contains("partial_topk") || plan.contains("partial_graft_topk"),
        s"$q missing map-side partial top-k aggregation:\n$plan")
    }
    // IVF-PQ's candidate join must be an equi-join on cell against the
    // broadcast probe rows — a nested-loop here would rescan the coded
    // corpus per query row instead of pruning to probed cells.
    assert(!plans("ann_ivfpq").contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ candidate join fell back to a nested loop:\n${plans("ann_ivfpq")}")
  }

  test("native as-of join: AsOfJoinExec planned, one exchange per side, no window") {
    val df = SparkEntry.queries("events_asof_native")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"custom strategy did not fire:\n$plan")
    assert(!plan.contains("Window "), s"native as-of must not fall back to a window:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"native as-of must not plan a generic join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected exactly 2 hash exchanges (one per side), got $exchanges:\n$plan")
  }

  test("r9: retention scans the corpus once; the only window sits above the aggregate") {
    val df = SparkEntry.queries("events_retention")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // structurally ONE corpus pipeline: a single user_id exchange, a
    // single events scan — no self-join branch whose exchange reuse
    // would be AQE-timing-dependent
    val userExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id") && !l.contains("ReusedExchange"))
    assert(userExchanges == 1, s"expected exactly ONE user_id exchange, got $userExchanges:\n$plan")
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(scans == 1, s"retention must scan events exactly once, got $scans:\n$plan")
    // the cohort-size window runs over the (cohort, offset) AGGREGATE —
    // calendar-bounded — so every Window node must have an aggregate below
    val lines = plan.linesIterator.toVector
    for ((l, i) <- lines.zipWithIndex if l.contains("Window ")) {
      assert(lines.drop(i).exists(_.contains("HashAggregate")),
        s"retention window must sit above the aggregate, never the raw scan:\n$plan")
    }
  }

  test("r9: the as-of catalog family routes through the native AsOfJoinExec") {
    // events_asof_purchase / _skew (backward strict) and the last-touch
    // attribution row (backward inclusive, hot-key fixture) must all plan
    // the streamed-merge exec — no window machinery, no generic join, one
    // hash exchange per side.
    for (q <- Seq("events_asof_purchase", "events_asof_purchase_skew",
        "events_attribution_lasttouch", "events_funnel_native")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), s"$q: custom strategy did not fire:\n$plan")
      assert(!plan.contains("Window "), s"$q must not fall back to a window:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must not plan a generic join:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 2, s"$q: expected exactly 2 hash exchanges, got $exchanges:\n$plan")
    }
  }

  test("round-6 curation operators keep their scale shapes") {
    // sample_mixture / sample_temperature: heap aggregate, never a
    // per-stratum window
    for (q <- Seq("sample_mixture", "sample_temperature")) {
      val mix = executedPlan(q)
      assert(!mix.contains("Window "), s"$q fell back to a window:\n$mix")
      assert(mix.contains("partial_topk"), s"$q missing map-side partial top-k:\n$mix")
    }
    // dedup_canonical_best: rep selection is a partial/merge max(struct)
    // aggregate — no per-cluster window anywhere in the plan
    val best = executedPlan("dedup_canonical_best")
    assert(!best.contains("Window "), s"canonical-best fell back to a window:\n$best")
    assert(best.contains("partial_max"), s"canonical-best missing partial max:\n$best")
    // text_token_budget: the only window runs over the boundary key's docs —
    // it must sit ABOVE a quality_key filter, never over the raw scan
    val budget = SparkEntry.queries("text_token_budget")(spark, dir)
      .queryExecution.executedPlan.toString
    val lines = budget.linesIterator.toVector
    val winIdx = lines.indexWhere(_.contains("Window"))
    if (winIdx >= 0) {
      // Catalyst inlines the quality_key alias into the pushed-down filter,
      // so match the key expression (integer div) in a Filter below the
      // window rather than the alias name.
      val below = lines.drop(winIdx)
      assert(below.exists(l => l.contains("Filter") && l.contains("div")),
        s"running-sum window must be scoped to the boundary key:\n$budget")
    }
  }

  test("round-7 skew twins: no window ever sorts a corpus-sized low-cardinality partition") {
    // q_percentile_disc_skew / stats_histogram_eqdepth: every window runs
    // over a VALUE histogram — each Window node must have an aggregate
    // BELOW it (never the raw scan)
    for (qn <- Seq("q_percentile_disc_skew", "stats_histogram_eqdepth")) {
      val pct = executedPlan(qn)
      val pctLines = pct.linesIterator.toVector
      pctLines.zipWithIndex.filter(_._1.contains("Window")).foreach { case (_, i) =>
        assert(pctLines.drop(i + 1).exists(_.contains("HashAggregate")),
          s"$qn: window must sit above the value histogram, not the raw scan:\n$pct")
      }
      assert(pctLines.exists(_.contains("Window")), pct)
    }

    // q_ntile_skew: the only corpus-side window is the TIE window
    // partitioned by (segment, cents) — high cardinality; any window
    // partitioned by segment alone must sit above the histogram aggregate
    val nt = executedPlan("q_ntile_skew")
    assert(!nt.contains("ntile("), s"skew twin must not call ntile():\n$nt")
    val ntLines = nt.linesIterator.toVector
    val tieWin = ntLines.exists(l =>
      l.contains("Window") && l.contains("c_mktsegment") && l.contains("cents"))
    assert(tieWin, s"tie window must partition by (segment, cents):\n$nt")
    ntLines.zipWithIndex
      .filter { case (l, _) => l.contains("Window") && !l.contains("cents#") }
      .foreach { case (_, i) =>
        assert(ntLines.drop(i + 1).exists(_.contains("HashAggregate")),
          s"segment-only windows may run over the histogram only:\n$nt")
      }

    // text_domain_mix_scale: the one rank window is scoped to the boundary
    // bucket — a Filter on the bucket expression sits below it (the
    // catalog entry materializes, so inspect the unmaterialized form)
    val mix = graft.operators.Materialize.inspect(graft.operators.TextAnalysis.domainMixScale(spark, dir))
      .queryExecution.executedPlan.toString
    val mixLines = mix.linesIterator.toVector
    val winIdx = mixLines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, mix)
    assert(mixLines.drop(winIdx).exists(l => l.contains("Filter") && l.contains("div")),
      s"rank window must be scoped below a boundary-bucket filter:\n$mix")
  }

  test("co-bucketed fact-fact join needs NO exchange (the 100 TB Q5 path)") {
    // the DESIGN.md claim behind q5: bucketing both facts on the join key
    // removes the one remaining shuffle. Prove it with Spark's bucketed
    // tables: identical bucketing on both sides → SortMergeJoin reads
    // bucket-aligned, zero Exchange in the join subtree.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == spark.read.parquet(s"$dir/lineitem.parquet").count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("q8: all dimension chains broadcast; no cartesian; one agg exchange") {
    val plan = executedPlan("q8_market_share")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"promo/asia-cust/sup-nation chains must broadcast (got $bhj):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the PROMO filter must reach the part scan as a pushed filter
    val fmt = formatted("q8_market_share")
    assert(fmt.contains("EqualTo(p_type,PROMO)"), fmt)
  }

  test("q17: correlated-avg via ONE lineitem scan + one partkey exchange") {
    val plan = executedPlan("q17_small_qty")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, s"lineitem once + part once, no re-scan (got $scans):\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"brand keys must broadcast:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"one partkey + one final-agg exchange, got $exchanges:\n$plan")
  }

  test("scd2: gaps-and-islands runs on ONE user_id exchange end-to-end") {
    val plan = executedPlan("events_scd2")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"windows + island agg must share the user_id exchange, got $exchanges:\n$plan")
  }

  test("compact_latest: aggregate with map-side partial, no window") {
    val plan = executedPlan("events_compact_latest")
    assert(!plan.contains("Window"), s"compaction must not use a window:\n$plan")
    // struct-max is not hash-aggregable; Spark picks SortAggregate, whose
    // sort key is the GROUP KEY only (user_id) — never (ts, event_id)
    assert(plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Sort [user_id") || !plan.contains("ts DESC"), plan)
    // partial aggregate BELOW the exchange = map-side combine
    val idxAgg = plan.indexOf("SortAggregate")
    assert(idxAgg >= 0 && plan.indexOf("Exchange", idxAgg) >= 0, plan)
  }

  test("range_join_native: IntervalJoin exec fires, no nested loop, one exchange+sort per side") {
    val plan = executedPlan("events_range_join_native")
    assert(plan.contains("IntervalJoin"), s"native exec must plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // the bucketized twin explodes probes into buckets; the native plan must not
    assert(!plan.contains("Generate"), s"no explode in the native sweep:\n$plan")
  }

  test("q16: two-phase distinct — no Expand, broadcast dim, two hash-agg pairs") {
    val plan = executedPlan("q16_supplier_variety")
    assert(!plan.contains("Expand"), s"two-phase distinct must not Expand:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("r10 TPC-H batch: no cartesian products; nested-loop only as a one-row scalar broadcast") {
    // the systematic guard over all 16 round-10 TPC-H rows: a cartesian
    // product is never acceptable, and BroadcastNestedLoopJoin may appear
    // ONLY in the queries that broadcast a one-row scalar aggregate
    // (q11/q15/q20/q22's max/avg/total gates) — anywhere else it means a
    // join condition silently stopped being an equi-join
    val scalarBroadcastOk = Set(
      "q11_important_share", "q15_top_supplier", "q20_excess_suppliers", "q22_global_sales")
    val batch = Seq(
      "q2_min_cost_supplier", "q4_priority_wait", "q6_forecast_revenue",
      "q7_nation_volume", "q9_profit_by_nation", "q10_returned_items",
      "q11_important_share", "q12_shipmode_priority", "q13_custdist",
      "q14_promo_share", "q15_top_supplier", "q18_large_orders",
      "q19_discounted_revenue", "q21_waiting_supplier", "q22_global_sales",
      "q20_excess_suppliers")
    batch.foreach { name =>
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product:\n$plan")
      if (!scalarBroadcastOk(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name lost its equi-join:\n$plan")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
        !name.contains("join"), s"$name: expected a hash-based join:\n$plan")
    }
  }
}
