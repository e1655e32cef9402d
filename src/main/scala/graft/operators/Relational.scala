package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FreqItemsCheck
import graft.sources.ParquetSource
import graft.sql.ParallelRanges

/** Parity + relational query catalog. Each query has a DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]]; all aggregates on floating columns are
  * rounded into integer cents so Spark and DuckDB agree bit-for-bit
  * regardless of summation order.
  *
  * Scale notes (100 TB thinking):
  *   - scans stay `SELECT *`-shaped so Catalyst prunes columns per query
  *   - joins put the small side (customer/orders vs lineitem) on the
  *     broadcast side explicitly
  *   - the range-split union is a metadata-only union of disjoint
  *     partition filters — no shuffle
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSource.read(spark, s"$dir/$name.parquet")

  /** Normalizes the events `ts` column across testdata generations: older
    * fixtures ship parquet TIMESTAMP(NANOS), which Spark reads only as raw
    * nanos longs (`spark.sql.legacy.parquet.nanosAsLong`); newer fixtures
    * ship TIMESTAMP(MICROS), which Spark reads as TIMESTAMP_NTZ. Both
    * normalize to a session-tz (UTC everywhere in this engine) microsecond
    * timestamp — the identical instant DuckDB sees on the same parquet, so
    * oracle comparisons are independent of the fixture's physical type.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      raw.withColumn("ts_nanos", col("ts"))
        // integer div — double division would lose precision above 2^53 ns
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _ =>
      // NTZ→LTZ cast interprets the wall clock in the session tz (UTC),
      // matching DuckDB's naive read of the same microsecond values
      raw.withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("ts_nanos", expr("unix_micros(ts) * 1000"))
  }

  /** The events table with `ts` normalized ([[normalizeEventTs]]). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(t(spark, dir, "events"))
  }

  /** S1: full table scan (dbeam's `SELECT * FROM table WHERE 1=1`). */
  def fullScan(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")

  /** S2: user-query wrap — the SQL string goes through the engine verbatim
    * (dbeam `QueryBuilder.fromSqlQuery`).
    */
  def userQuery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      graft.sql.QueryBuilder
        .fromSqlQuery("SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000.0;")
        .build)
  }

  /** F1 daily: partition window `[day, day+P1D)` on a timestamp column. */
  def partitionDaily(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-11-05").cast("timestamp") &&
        col("l_shipdate") < lit("1997-11-06").cast("timestamp"))

  /** F1 monthly: `[month, month+P1M)`. */
  def partitionMonthly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-11-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-12-01").cast("timestamp"))

  /** F2/X1: dbeam's range split — union of the generated half-open ranges
    * (last inclusive) must reproduce the full table exactly. The union of
    * disjoint filters over one scan stays shuffle-free.
    */
  def rangeSplitUnion(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val bounds = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val ranges = ParallelRanges.generate(bounds.getLong(0), bounds.getLong(1), 8)
    ranges.map { r =>
      val hi = if (r.endInclusive) col("l_orderkey") <= r.end else col("l_orderkey") < r.end
      li.filter(col("l_orderkey") >= r.start && hi)
    }.reduce(_ unionAll _)
  }

  /** L1: deterministic limit (top-k by full key — dbeam's LIMIT is
    * arbitrary-order; an ordered top-k is the verifiable equivalent).
    */
  def limitTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(100)

  /** S4/A1: MIN/MAX bounds probe (`SELECT MIN(sp) as min_s, MAX(sp) as max_s`). */
  def minMaxBounds(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(min("l_orderkey").as("min_s"), max("l_orderkey").as("max_s"))

  /** P4/U1: the row→Avro type projection as SQL-visible semantics:
    * timestamp → epoch millis (UTC), int widening, boolean derivation.
    */
  def typeProjection(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(
      col("l_orderkey"),
      col("l_linenumber"),
      // parquet ships TIMESTAMP_NTZ; session is UTC so the cast is lossless
      unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"),
      col("l_linenumber").cast("bigint").as("line_long"),
      (col("l_returnflag") === "R").as("is_return"))

  /** A2/A5: record counting (the metrics/minRows gate). */
  def countAll(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").agg(count(lit(1)).as("n"))

  /** TPC-H Q1-shaped aggregation; money in integer cents for cross-engine
    * determinism. Partial aggregation (map-side combine) keeps the single
    * shuffle small at scale.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("bigint")).as("sum_price_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("bigint"))
          .as("sum_disc_price_cents"))

  /** Q3-shaped 3-way join: lineitem (big) joined with orders and customer.
    * Both carried sides SCALE WITH THE FACT (orders is ~1/4 of lineitem's
    * rows, customer ~1/15 — at 100 TB of lineitem they are terabytes, not
    * dims), so neither is hint-broadcast: the joins are plain equi-joins
    * and the planner/AQE broadcasts only when a side is genuinely small
    * at runtime (it is at bench SF; at 100 TB both must shuffle).
    */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .filter(cust("c_mktsegment") === "BUILDING")
      .groupBy(ord("o_orderkey").as("o_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("bigint"))
        .as("revenue_cents"))
      .orderBy(desc("revenue_cents"), col("o_orderkey"))
      .limit(10)
  }

  /** Window function: top-3 orders per customer (deterministic tiebreak). */
  def windowTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "rk")
  }

  /** Per-group top-k via the bounded-heap AGGREGATE (`graft_topk`) instead
    * of the [[windowTopK]] rank-filter pattern. Same contract (top 3 orders
    * per customer by price, id tiebreak), radically different plan: the
    * window form shuffles and sorts EVERY order row; the aggregate form is
    * a partial/merge hash aggregate, so each map task forwards at most k
    * rows per customer to the exchange and nothing is ever sorted but the
    * k-element output arrays. The 100 TB per-key-top-k.
    */
  def groupedTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    t(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(expr("graft_topk(o_orderkey, o_totalprice, 3)").as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("o_custkey"),
        col("t.id").as("o_orderkey"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** FULL OUTER join with both null sides exercised: nations' high-balance
    * customer counts vs supplier counts — some nations have no rich
    * customers (left-null side) and the join must keep both. Aggregates
    * are pushed BELOW the join, so the outer join runs on two tiny
    * per-nation frames rather than raw tables — the 100 TB form of a
    * reconciliation join.
    */
  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey").as("nk_c"))
      .agg(count(lit(1)).as("n_rich_cust"))
    val s = t(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("nk_s"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, col("nk_c") === col("nk_s"), "full_outer")
      .select(
        coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_rich_cust"), lit(0L)).as("n_rich_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** UNPIVOT (wide → long) via `stack`: per-returnflag aggregates unpivoted
    * into (flag, metric, value) rows — the inverse of [[pivotByStatus]]'s
    * reshaping. `stack` is a generator projection over the tiny aggregated
    * frame, so the reshape itself is shuffle-free.
    */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        sum(round(col("l_quantity") * 100).cast("bigint")).as("qty_centi"),
        count(lit(1)).as("n_rows"))
      .selectExpr("l_returnflag",
        "stack(2, 'qty_centi', qty_centi, 'n_rows', n_rows) AS (metric, value)")

  /** Set operations: customers with any order EXCEPT customers with an open
    * order (exercises distinct set semantics).
    */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    ord.select("o_custkey").except(
      ord.filter(col("o_orderstatus") === "O").select("o_custkey"))
  }

  /** F1 hourly on the events stream table (sub-daily `Duration` windows). */
  def partitionHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("ts") >= lit("2024-01-01T06:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-01T07:00:00").cast("timestamp"))
      .select("event_id", "user_id", "event_type", "ts")

  /** ROLLUP aggregation (grouping-sets family — beyond the reference's
    * operator set). Money in integer cents for cross-engine determinism.
    */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).as("total_cents"))

  /** Pivot: revenue cents per return flag pivoted by line status. Explicit
    * pivot values keep the output schema deterministic (inferred pivot
    * values depend on data order).
    */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")))
      .withColumnRenamed("F", "cents_F")
      .withColumnRenamed("O", "cents_O")

  /** JSON column processing: extract a typed field from the `props` JSON
    * string per event and aggregate it — the semi-structured column path.
    */
  def jsonExtractAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        max("k").as("max_k"))

  /** Exact discrete percentiles (p50/p95) per group, computed by rank —
    * fully deterministic across engines (unlike interpolated or
    * sketch-based quantiles, whose arithmetic is engine-specific). One
    * window pass + one aggregation.
    */
  def percentileDisc(spark: SparkSession, dir: String): DataFrame = {
    val byFlag = Window.partitionBy("l_returnflag")
      .orderBy("l_quantity", "l_orderkey", "l_linenumber")
    t(spark, dir, "lineitem")
      .withColumn("rn", row_number().over(byFlag).cast("bigint"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
      .groupBy("l_returnflag")
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5).cast("bigint"), col("l_quantity"))).as("p50_qty"),
        max(when(col("rn") === ceil(col("n") * 0.95).cast("bigint"), col("l_quantity"))).as("p95_qty"),
        max("n").cast("bigint").as("n"))
  }

  /** [[percentileDisc]] made SKEW-SAFE by value-histogram decomposition —
    * the `selectTokenBudget` recipe applied to exact rank selection. The
    * plain form ranks every row inside a 3-partition window (one per
    * return flag), so each window task sorts a third of the table at any
    * scale. Here the ONLY windows run over the per-flag VALUE HISTOGRAM
    * (`groupBy(flag, quantity)` — bounded by the value domain, ~50 distinct
    * quantities, regardless of corpus size): the exact p-th value is the
    * smallest quantity whose cumulative count reaches `ceil(n·p)`, which is
    * precisely the value the plain form's rank-`ceil(n·p)` row holds
    * (ties beyond quantity cannot change which VALUE sits at a rank).
    * Per-task work: one map-side-combined aggregate over the corpus + a
    * ≤50-row window — nothing corpus-sized is ever sorted.
    */
  def percentileDiscSkewSafe(spark: SparkSession, dir: String): DataFrame = {
    val hist = t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(Window.partitionBy("l_returnflag")))
      .groupBy("l_returnflag")
      .agg(
        min(when(col("cum") >= ceil(col("n") * 0.5).cast("bigint"), col("l_quantity"))).as("p50_qty"),
        min(when(col("cum") >= ceil(col("n") * 0.95).cast("bigint"), col("l_quantity"))).as("p95_qty"),
        max("n").cast("bigint").as("n"))
  }

  /** CUBE aggregation — all 4 grouping sets over (status, priority). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).as("total_cents"))

  /** As-of join expressed Spark-first: for every event, the most recent
    * STRICTLY EARLIER 'purchase' event of the same user. Spark has no ASOF
    * JOIN operator; instead of a range join (O(n·m) + inequality join), the
    * self-as-of case composes as one window pass over the per-user
    * timeline: `max(purchase_ts) OVER (user, ts rows to -1)` — a single
    * shuffle on user_id, linear work, exactly the plan a custom ASOF
    * SparkPlan would produce for self-joins at 100 TB.
    */
  def asofLastPurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy("ts", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events(spark, dir)
      .withColumn("purchase_ts", when(col("event_type") === "purchase", col("ts")))
      .withColumn("last_purchase_ts", max("purchase_ts").over(w))
      .select("event_id", "user_id", "ts", "last_purchase_ts")
  }

  /** Click→NEXT-PURCHASE attribution through the engine's native
    * [[graft.plans.AsOfJoinPlan]] whole-operator extension: for every
    * click, the first purchase of the same user whose `(ts, event_id)`
    * is lexicographically at-or-after the click's — LEFT OUTER, nulls
    * when the user never purchases again. See the operator's scaladoc
    * for the plan shape (one hash exchange per side, streamed merge,
    * one buffered row); PlanSpec pins it, and the DuckDB oracle
    * (`events_asof_native`) checks the semantics row-for-row.
    */
  def asofNativeNextPurchase(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
    val lp = clicks.queryExecution.analyzed
    val rp = purchases.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        leftKey = lo(1), rightKey = ro(1), // user_id
        leftTime = lo(2), rightTime = ro(2), // ts (micros)
        leftTie = lo(0), rightTie = ro(0))) // event_id
      .select("event_id", "user_id", "ts", "purchase_id", "purchase_ts")
  }

  /** The BACKWARD direction of the native as-of exec: for every click,
    * the LAST purchase of the same user with `(ts, event_id)` at-or-before
    * the click's — the trade-quote as-of shape. Same plan (two exchanges,
    * streamed merge, one remembered row), opposite scan rule.
    */
  def asofNativeLastPurchase(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
    val lp = clicks.queryExecution.analyzed
    val rp = purchases.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        leftKey = lo(1), rightKey = ro(1),
        leftTime = lo(2), rightTime = ro(2),
        leftTie = lo(0), rightTie = ro(0), forward = false))
      .select("event_id", "user_id", "ts", "purchase_id", "purchase_ts")
  }

  /** Per-event prior-activity density through the engine's native
    * [[graft.plans.IntervalJoinPlan]] sweep: for every event, its same-user
    * events STRICTLY within the prior 30 minutes
    * (`b.ts ∈ [a.ts − 30 min, a.ts − 1 µs]`), counted; events with no
    * prior activity keep count 0 via a final equi-join back to the event
    * set (the native exec is INNER by design). The bucketized
    * `events_range_join` remains the composed twin — same family, global
    * window; this one keys on the user and sweeps: one exchange + sort
    * per side, sliding buffer bounded by the densest 30-minute burst.
    */
  def rangeJoinNative(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = events(spark, dir)
    val probe = e.select(col("event_id"), col("user_id"), col("ts"))
    val build = e.select(col("event_id").as("b_event_id"),
      col("user_id").as("b_user_id"), col("ts").as("b_ts"))
    val lp = probe.queryExecution.analyzed
    val rp = build.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    val pairs = org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.IntervalJoinPlan(lp, rp,
        leftKey = lo(1), rightKey = ro(1),   // user_id
        leftTime = lo(2), rightTime = ro(2), // ts (micros)
        leftTie = lo(0), rightTie = ro(0),   // event_id
        lowDeltaUs = -1800L * 1000000L, highDeltaUs = -1L))
    val counts = pairs.groupBy(col("event_id").as("m_event_id"))
      .agg(count(lit(1)).as("n"))
    probe.join(counts, col("event_id") === col("m_event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n"), lit(0L)).cast("bigint").as("n_prior_30min"))
  }

  /** The as-of CATALOG rows (`events_asof_purchase` / `_skew`) answered by
    * the NATIVE exec (r9 — the window and time-chunked forms remain as
    * bit-equal oracle twins, see WindowSkewSpec): for every event, the
    * most recent STRICTLY EARLIER purchase of the same user. Left = all
    * events, right = purchases, BACKWARD STRICT scan rule — "strictly
    * earlier by (ts, event_id)" is exactly the window form's
    * `ROWS UNBOUNDED PRECEDING TO 1 PRECEDING` over that ordering, and
    * strict mode keeps a purchase row from matching itself. Plan: one
    * hash exchange + sort per side, streamed merge, ONE buffered row —
    * O(|L|+|R|) per partition, skew-proof by construction (a hot user
    * costs its linear scan, never a window sort of the whole timeline).
    */
  def asofLastPurchaseNative(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = events(spark, dir)
    val all = e.select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user_id"),
        col("ts").as("last_purchase_ts"))
    val lp = all.queryExecution.analyzed
    val rp = purchases.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        leftKey = lo(1), rightKey = ro(1), // user_id
        leftTime = lo(2), rightTime = ro(2), // ts (micros)
        leftTie = lo(0), rightTie = ro(0), // event_id
        forward = false, strict = true))
      .select("event_id", "user_id", "ts", "last_purchase_ts")
  }

  /** [[asofNativeNextPurchase]] with a TOLERANCE bound (the kdb/pandas
    * ASOF TOLERANCE clause, r9): the first purchase at-or-after the click
    * matches only if it lands within one hour — farther matches pad with
    * nulls. Same streamed-merge plan; only the emission test changes.
    * Equivalent to the LATERAL oracle's `p.ts <= c.ts + 1 hour` bound
    * because the lexicographically-first at-or-after purchase has the
    * minimum qualifying ts (if IT is out of tolerance, every candidate
    * is).
    */
  def asofNativeNextPurchaseTolerance(spark: SparkSession, dir: String,
      toleranceUs: Long = 3600000000L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
    val lp = clicks.queryExecution.analyzed
    val rp = purchases.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        leftKey = lo(1), rightKey = ro(1),
        leftTime = lo(2), rightTime = ro(2),
        leftTie = lo(0), rightTie = ro(0),
        toleranceUs = toleranceUs))
      .select("event_id", "user_id", "ts", "purchase_id", "purchase_ts")
  }

  /** LAST-TOUCH ATTRIBUTION over a deliberately SKEWED user domain — the
    * reference-shaped backward as-of workload beyond the twin fixture
    * (r9): for every purchase, the last click of the same user at-or-
    * before it by `(ts, event_id)`, LEFT OUTER. Skew is synthesized
    * deterministically (every `user_id % 16 == 0` collapses onto the one
    * hot key −1 — ~6% of all traffic on a single user), mirrored exactly
    * by the DuckDB oracle, so the row exercises the native exec's
    * skew-proof claim under a hot key rather than asserting it. Plan is
    * the same streamed merge: the hot user's partition does one linear
    * scan of its clicks+purchases with ONE remembered row — no window
    * sort, no candidate blow-up (candidates would be clicks×purchases of
    * the hot user, quadratic, in the composed inequality-join form).
    */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = events(spark, dir)
      .withColumn("uid",
        when(col("user_id") % 16 === 0, lit(-1L)).otherwise(col("user_id")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("uid").as("user_id"),
        col("ts").as("purchase_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("uid").as("c_user_id"),
        col("ts").as("click_ts"))
    val lp = purchases.queryExecution.analyzed
    val rp = clicks.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        leftKey = lo(1), rightKey = ro(1), // (hot-collapsed) user id
        leftTime = lo(2), rightTime = ro(2), // ts (micros)
        leftTie = lo(0), rightTie = ro(0), // event_id
        forward = false))
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
  }

  /** Two-step FUNNEL analysis per user (the product-analytics conversion
    * operator): first click, first purchase at-or-after that click, the
    * conversion flag, and the exact conversion latency in microseconds.
    * "At-or-after" is computed with a running `min(click ts)` over the
    * per-user timeline ordered by (ts, event_id) — ONE window pass + one
    * aggregation, the [[asofLastPurchase]] shape — so a purchase converts
    * iff some click sorts at-or-before it (ties break on event_id,
    * mirrored exactly by the oracle). Users with no click appear with
    * nulls and `converted = false`.
    *
    * Scale: one shuffle on user_id; per-user windows are high-cardinality
    * (hot-key guard would be the q_range_frame_skew time-chunk rewrite).
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events(spark, dir)
      .withColumn("first_click_so_far",
        min(when(col("event_type") === "click", col("ts"))).over(w))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "click", col("ts"))).as("first_click_ts"),
        min(when(col("event_type") === "purchase" && col("first_click_so_far").isNotNull,
          col("ts"))).as("first_conversion_ts"))
      .withColumn("converted", col("first_conversion_ts").isNotNull)
      .withColumn("conversion_us",
        when(col("converted"),
          unix_micros(col("first_conversion_ts")) - unix_micros(col("first_click_ts"))))
  }

  /** [[eventsFunnel]] answered by the NATIVE as-of exec (r9): the funnel's
    * "first purchase at-or-after the first click" IS a forward as-of whose
    * left side is the per-user FIRST-CLICK row — one min-struct aggregate
    * (map-combined) instead of a corpus-wide window pass, then the
    * streamed merge. Users with no click carry a null time and the exec's
    * null-key rule pads them with nulls — exactly the oracle's clickless
    * rows. The lexicographically-first qualifying purchase has the minimum
    * qualifying ts, so the as-of's match ts equals the oracle's
    * `min(purchase ts | click at-or-before)`. Shares [[eventsFunnel]]'s
    * oracle verbatim.
    */
  def eventsFunnelNative(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = events(spark, dir)
    val left = e.groupBy("user_id")
      .agg(min(when(col("event_type") === "click",
        struct(col("ts"), col("event_id")))).as("fc"))
      .select(col("user_id"), col("fc.ts").as("first_click_ts"),
        col("fc.event_id").as("fc_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user_id"),
        col("ts").as("p_ts"))
    val lp = left.queryExecution.analyzed
    val rp = purchases.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        leftKey = lo(0), rightKey = ro(1), // user_id
        leftTime = lo(1), rightTime = ro(2), // first click ts / purchase ts
        leftTie = lo(2), rightTie = ro(0))) // event ids
      .select(col("user_id"), col("first_click_ts"),
        col("p_ts").as("first_conversion_ts"))
      .withColumn("converted", col("first_conversion_ts").isNotNull)
      .withColumn("conversion_us",
        when(col("converted"),
          unix_micros(col("first_conversion_ts")) - unix_micros(col("first_click_ts"))))
  }

  /** THREE-STEP funnel (view → click → purchase) COMPOSED from two native
    * as-of joins — the n-step generalization of [[eventsFunnelNative]],
    * and the demonstration that the custom exec composes: step 2 is a
    * forward as-of from each user's first view to their first click
    * at-or-after it, step 3 re-enters the exec with the CLICK position as
    * the new left time, and a user who never clicked flows through with
    * nulls (the exec passes null left times straight to the null-right
    * output — no filter/union split needed).
    *
    * Scale: the first-view table is one min-struct aggregate (already
    * exchanged on user_id, which satisfies the exec's distribution); each
    * as-of step is one exchange + sort per NEW side and a streamed merge
    * holding one buffered row — the whole 3-step funnel is 4 exchanges
    * total, where the window formulation would sort the full corpus
    * per step.
    */
  def eventsFunnel3Native(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = events(spark, dir)
    val firstView = e.groupBy("user_id")
      .agg(min(when(col("event_type") === "view",
        struct(col("ts"), col("event_id")))).as("fv"))
      .filter(col("fv").isNotNull) // the funnel starts at a view
      .select(col("user_id"), col("fv.ts").as("view_ts"),
        col("fv.event_id").as("view_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    def asofForward(left: DataFrame, right: DataFrame,
        names: (String, String, String, String, String, String)): DataFrame = {
      val lp = left.queryExecution.analyzed
      val rp = right.queryExecution.analyzed
      def a(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute], n: String) =
        out.find(_.name == n).get
      org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
        graft.plans.AsOfJoinPlan(lp, rp,
          leftKey = a(lp.output, names._1), rightKey = a(rp.output, names._4),
          leftTime = a(lp.output, names._2), rightTime = a(rp.output, names._5),
          leftTie = a(lp.output, names._3), rightTie = a(rp.output, names._6)))
    }
    val withClick = asofForward(firstView, clicks,
      ("user_id", "view_ts", "view_id", "c_user", "click_ts", "click_id"))
      .select("user_id", "view_ts", "view_id", "click_ts", "click_id")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    asofForward(withClick, purchases,
      ("user_id", "click_ts", "click_id", "p_user", "purchase_ts", "p_id"))
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("purchase_ts"))
      .withColumn("completed", col("purchase_ts").isNotNull)
      .withColumn("funnel_us",
        when(col("completed"),
          unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))))
  }

  /** [[asofLastPurchase]] made SKEW-SAFE by the same time-chunk
    * decomposition as [[eventsFunnelSkewSafe]] — running `max(purchase
    * ts)` is associative, so the strictly-earlier frame splits into a
    * chunk-local exclusive running max plus the max over all PREVIOUS
    * chunks (one row per (user, chunk)); `greatest` skips nulls. With
    * this twin, every per-user windowed catalog operator (range frame,
    * lead/lag, sessionize, funnel, as-of) has a chunk-bounded form
    * sharing its plain oracle.
    */
  def asofLastPurchaseSkewSafe(spark: SparkSession, dir: String,
      chunkUs: Long = 6L * 3600000000L): DataFrame = {
    val e = events(spark, dir)
      .withColumn("chunk", expr(s"unix_micros(ts) div $chunkUs"))
      .withColumn("purchase_ts", when(col("event_type") === "purchase", col("ts")))
    val byUC = Window.partitionBy("user_id", "chunk").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = e.withColumn("local_last", max("purchase_ts").over(byUC))
    val byU = Window.partitionBy("user_id").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = e.groupBy("user_id", "chunk")
      .agg(max("purchase_ts").as("chunk_max"))
      .withColumn("prev_max", max("chunk_max").over(byU))
      .select("user_id", "chunk", "prev_max")
    local.join(prefix, Seq("user_id", "chunk"))
      .select(col("event_id"), col("user_id"), col("ts"),
        greatest(col("local_last"), col("prev_max")).as("last_purchase_ts"))
  }

  /** [[eventsFunnel]] made SKEW-SAFE by the time-chunk decomposition (the
    * `q_range_frame_skew` family): the running `min(click ts)` is
    * associative, so it splits exactly into a CHUNK-LOCAL running min
    * (windows bounded by chunk volume) combined with the min over all
    * PREVIOUS chunks — computed from one row per (user, chunk), so the
    * second window's per-user partition is "number of non-empty chunks",
    * never raw events. `least` skips nulls, which is precisely the
    * null-semantics the running min needs. Bit-equal to the plain form
    * (WindowSkewSpec) and shares its oracle.
    */
  def eventsFunnelSkewSafe(spark: SparkSession, dir: String,
      chunkUs: Long = 6L * 3600000000L): DataFrame = {
    val e = events(spark, dir)
      .withColumn("chunk", expr(s"unix_micros(ts) div $chunkUs"))
    val byUC = Window.partitionBy("user_id", "chunk").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = e.withColumn("local_min_click",
      min(when(col("event_type") === "click", col("ts"))).over(byUC))
    val byU = Window.partitionBy("user_id").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = e.groupBy("user_id", "chunk")
      .agg(min(when(col("event_type") === "click", col("ts"))).as("chunk_min_click"))
      .withColumn("prev_min_click", min("chunk_min_click").over(byU))
      .select("user_id", "chunk", "prev_min_click")
    local.join(prefix, Seq("user_id", "chunk"))
      .withColumn("first_click_so_far", least(col("prev_min_click"), col("local_min_click")))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "click", col("ts"))).as("first_click_ts"),
        min(when(col("event_type") === "purchase" && col("first_click_so_far").isNotNull,
          col("ts"))).as("first_conversion_ts"))
      .withColumn("converted", col("first_conversion_ts").isNotNull)
      .withColumn("conversion_us",
        when(col("converted"),
          unix_micros(col("first_conversion_ts")) - unix_micros(col("first_click_ts"))))
  }

  /** Hourly windowed aggregation over events — the batch-equivalent of the
    * Structured Streaming query in [[graft.streaming.EventStream]].
    */
  def eventsHourlyAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("bigint")).as("value_cents"))

  /** COHORT RETENTION — the product-analytics triangle: users cohorted by
    * first-seen week, counted per (cohort, week-offset) of later activity,
    * plus the cohort size (offset-0 count is the cohort size by
    * definition — every user is active in their own first week).
    *
    * Scale: ONE exchange on user_id builds both the cohort week and the
    * user's distinct active-week SET in the same aggregate — the set is
    * bounded by the CALENDAR (weeks in the data's time span), never by
    * event volume, so per-user state is a few dozen longs at any corpus
    * size; the explode + second map-combined aggregate exchanges one row
    * per (cohort, offset) pair. No window, no distinct-then-join (which
    * would shuffle (user, week) pairs twice on different keys). All
    * integer outputs — the DuckDB oracle matches bit-for-bit.
    */
  /** TPC-H Q8-shaped NATIONAL MARKET SHARE — the deepest join tree in the
    * relational family (6 tables): per order year, the revenue share (in
    * integer permille) of one supplier nation within PROMO-part revenue
    * ordered by ASIA-region customers. Revenue is exact integer
    * cents×percent (`round(price·100) · (100 − round(discount·100))`) —
    * the integer-cents money discipline, so the oracle matches
    * bit-for-bit with no float summation order concerns.
    *
    * Scale: the dimension chains (PROMO parts, ASIA customers via
    * nation⋈region, supplier→nation) ride PLAIN equi-joins — part,
    * customer and supplier all scale with the fact in TPC-H, so AQE makes
    * the broadcast-vs-shuffle call at runtime instead of a hint forcing
    * a fact-proportional side driver-side; the always-big-big join is
    * lineitem⋈orders on the order key, and the share needs no second
    * pass — one conditional-sum aggregate computes the nation numerator
    * and the total in the same exchange.
    */
  def q8MarketShare(spark: SparkSession, dir: String,
      supplierNation: String = "NATION_1"): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("bigint"))
      .withColumn("dpct", round(col("l_discount") * 100).cast("bigint"))
      .withColumn("rev", col("cents") * (lit(100L) - col("dpct")))
    val promo = t(spark, dir, "part").filter(col("p_type") === "PROMO")
      .select("p_partkey")
    val asiaCust = t(spark, dir, "customer")
      .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select("c_custkey")
    val supNation = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("sup_nation"))
    li
      .join(promo, col("l_partkey") === col("p_partkey"))
      .join(t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("bigint").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(
        sum(when(col("sup_nation") === supplierNation, col("rev")).otherwise(0L))
          .as("nation_rev"),
        sum(col("rev")).as("total_rev"))
      .select(col("o_year"), col("nation_rev"), col("total_rev"),
        expr("nation_rev * 1000 div total_rev").as("share_permille"))
  }

  /** TPC-H Q17-shaped SMALL-QUANTITY-ORDER revenue — the correlated scalar
    * aggregate decorrelated the way Catalyst would: "lineitems whose
    * quantity is below 20% of their part's average quantity". The
    * correlated subquery `0.2 · avg(l_quantity) WHERE same part` becomes a
    * per-part aggregate joined back to the fact table; the fractional
    * comparison is kept exactly integral:
    * `qty < sum_qty / (5·cnt)  ⇔  5·qty·cnt < sum_qty`
    * (quantities are whole; everything stays BIGINT, so the oracle agrees
    * bit-for-bit with no division-rounding hazard on either engine).
    *
    * Scale: the textbook decorrelation (per-part aggregate joined back to
    * the fact) scans lineitem TWICE — at 100 TB the second scan is the
    * dominant cost. Instead the per-part aggregate rides a whole-partition
    * window over the SAME scan: one pruned lineitem read (the brand-part
    * slice is an AQE-sized equi-join side — part scales with the fact, so
    * no broadcast hint), ONE exchange on `l_partkey`,
    * and the per-part sums are computed next to the rows they gate.
    * Per-part groups are ~30 rows, so the window buffer is trivially
    * bounded and skew-free.
    */
  def q17SmallQty(spark: SparkSession, dir: String,
      brand: String = "Brand#1"): DataFrame = {
    val brandParts = t(spark, dir, "part")
      .filter(col("p_brand") === brand)
      .select(col("p_partkey"), col("p_brand"))
    val li = t(spark, dir, "lineitem")
      .join(brandParts, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("p_brand"),
        round(col("l_quantity")).cast("bigint").as("qty"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
    val perPart = Window.partitionBy("l_partkey")
    li
      .withColumn("sum_qty", sum(col("qty")).over(perPart))
      .withColumn("cnt", count(lit(1)).over(perPart))
      .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        sum(col("cents")).as("small_revenue_cents"))
      // TPC-H's avg_yearly analogue, floored into deci-cents-per-7-years
      // (all-positive, so Spark div == DuckDB // — the floor/trunc trap
      // from the build conventions doesn't bite)
      .withColumn("avg_yearly_decicents",
        expr("small_revenue_cents * 10 div 7"))
  }

  /** SCD TYPE-2 dimension build — the warehouse pattern that turns an
    * append-only event feed into versioned validity intervals: per user,
    * consecutive runs of the same `event_type` collapse into one row with
    * `[valid_from, valid_to)` (half-open; the current version has
    * `valid_to IS NULL`). Gaps-and-islands: a change flag against
    * `lag(event_type)`, a running sum for the island id, one aggregate per
    * island, then `lead(valid_from)` closes each interval.
    *
    * Scale: every window and the aggregate key on `user_id` — ONE
    * exchange; the island windows after the first only re-sort within
    * already-co-located partitions. Ordering ties break on `event_id`, so
    * the result is bit-deterministic on any partitioning (same tiebreak
    * in the oracle).
    */
  def eventsScd2(spark: SparkSession, dir: String): DataFrame =
    scd2RunsToIntervals(scd2Runs(events(spark, dir)))

  /** Gaps-and-islands fold of an event chunk into maximal RUNS —
    * `(user_id, event_type, first_ts, first_eid, n_events)`. Runs are the
    * MERGEABLE state behind SCD2: [[scd2MergeRuns]] re-islands run tables,
    * so a runs table folded per ingest batch and merged equals the runs of
    * the whole feed (the monoid [[graft.streaming.StreamScd2]] exploits),
    * provided batches split each user's timeline into prefixes — the
    * ordered-log delivery contract.
    */
  def scd2Runs(ev: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTime).isNull ||
          lag(col("event_type"), 1).over(byTime) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("chg"))
        .over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run", "event_type")
      .agg(min(struct(col("ts"), col("event_id"))).as("first"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("event_type"),
        col("first.ts").as("first_ts"), col("first.event_id").as("first_eid"),
        col("n_events").cast("bigint").as("n_events"))
  }

  /** Merges a runs table: adjacent same-type runs (in `(first_ts,
    * first_eid)` order per user) collapse into one. Idempotent; the run
    * monoid's associative op.
    */
  def scd2MergeRuns(runs: DataFrame): DataFrame = {
    val byStart = Window.partitionBy("user_id")
      .orderBy(col("first_ts"), col("first_eid"))
    runs
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byStart).isNull ||
          lag(col("event_type"), 1).over(byStart) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("chg"))
        .over(byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run", "event_type")
      .agg(min(struct(col("first_ts"), col("first_eid"))).as("first"),
        sum(col("n_events")).as("n_events"))
      .select(col("user_id"), col("event_type"),
        col("first.first_ts").as("first_ts"),
        col("first.first_eid").as("first_eid"),
        col("n_events").cast("bigint").as("n_events"))
  }

  /** Runs → SCD2 intervals: dense versions by run start, `valid_to` =
    * next run's start, current version open. Merges first (idempotent), so
    * any valid runs table — batch-folded or stream-folded — yields the
    * identical dimension table.
    */
  def scd2RunsToIntervals(runs: DataFrame): DataFrame = {
    val byStart = Window.partitionBy("user_id")
      .orderBy(col("first_ts"), col("first_eid"))
    scd2MergeRuns(runs)
      .withColumn("version", row_number().over(byStart).cast("bigint"))
      .withColumn("valid_to", lead(col("first_ts"), 1).over(byStart))
      .select(col("user_id"), col("version"), col("event_type"),
        col("first_ts").as("valid_from"), col("valid_to"),
        col("n_events").cast("bigint").as("n_events"))
  }

  /** INCREMENTAL AGGREGATE-STATE MERGE — the partitioned-rollup discipline
    * a 100 TB warehouse lives by: never rescan history. Each ingest batch
    * reduces to a tiny MERGEABLE state table (sum/count/min/max per key —
    * the exact-aggregate analogue of the sketch-blob store in
    * [[graft.functions]]), persisted to the rollup store; the serving
    * aggregate re-aggregates the states, never the rows.
    *
    * Here the lineitem fixture is split at `splitDate` into a "historical"
    * and a "new" batch, each folded to per-flag state and round-tripped
    * through parquet (the store layout is `store/batch=<id>`), then merged:
    * `sum+=sum, n+=n, min=min(min), max=max(max)`, with the derived
    * average reconstructed as `sum div n`. The DuckDB oracle computes the
    * same numbers from a FULL rescan — a green row is the proof the merge
    * is lossless.
    *
    * Scale: batch states are O(|keys|) rows regardless of batch size; the
    * merge shuffles only states. Min/max/sum/count are the states that
    * merge exactly; non-decomposable metrics ride the sketch store
    * (`sketch_*_merge_check`) instead.
    */
  def incrementalAggMerge(spark: SparkSession, dir: String,
      splitDate: String = "1998-07-01"): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_shipdate"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
    def state(batch: DataFrame): DataFrame = batch
      .groupBy("l_returnflag")
      .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
    val store = java.nio.file.Files.createTempDirectory("graft-rollup-store").toString
    state(li.filter(col("l_shipdate") < lit(splitDate)))
      .write.mode("overwrite").parquet(s"$store/batch=hist")
    state(li.filter(col("l_shipdate") >= lit(splitDate)))
      .write.mode("overwrite").parquet(s"$store/batch=new")
    ParquetSource.read(spark, s"$store/batch=hist", s"$store/batch=new")
      .groupBy("l_returnflag")
      .agg(sum(col("sum_cents")).as("sum_cents"), sum(col("n")).as("n"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .withColumn("avg_cents", expr("sum_cents div n"))
  }

  /** DATA-QUALITY CONSTRAINT BATTERY — the declarative pre-publish checks
    * a production table carries (the Deequ/expectations idea, run as one
    * query): each constraint reports `(matched, total, metric_permille,
    * passed)` with uniform semantics `passed ⇔ matched == total`.
    *
    *   - `not_null` / `domain` / `range` fold into ONE conditional-sum
    *     aggregate — a single scan regardless of how many row-local
    *     constraints are registered
    *   - `unique` is one composite-key aggregate (count==1 keys)
    *   - `ref` (referential integrity) is a left-semi join against the
    *     parent's key — broadcast or shuffled as AQE sizes it
    *
    * Scale: output is |constraints| rows; nothing driver-side. The one
    * scan for row-local checks is the point — naive one-query-per-check
    * DQ suites rescan the fact table per constraint.
    */
  def dqBattery(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val rowLocal = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_shipdate").isNotNull, 1L).otherwise(0L)).as("nn"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L)).as("dom"),
      sum(when(col("l_quantity") >= 1 && col("l_quantity") <= 50, 1L)
        .otherwise(0L)).as("rng"))
    val base = rowLocal.select(expr(
      """stack(3,
        | 'not_null:l_shipdate', nn,
        | 'domain:l_returnflag', dom,
        | 'range:l_quantity:1..50', rng) AS (check_name, matched)""".stripMargin),
      col("n").as("total"))
    val uniq = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") === 1L, 1L).otherwise(0L)).as("matched"),
        sum(col("c")).as("total"))
      .select(lit("unique:l_orderkey+l_linenumber").as("check_name"),
        col("matched"), col("total"))
    val ref = li.select("l_orderkey")
      .join(t(spark, dir, "orders").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("matched"))
      .crossJoin(rowLocal.select(col("n").as("total")))
      .select(lit("ref:l_orderkey->orders").as("check_name"),
        col("matched"), col("total"))
    base.unionAll(uniq).unionAll(ref)
      .select(col("check_name"), col("matched").cast("bigint").as("matched"),
        col("total").cast("bigint").as("total"),
        expr("matched * 1000 div total").as("metric_permille"),
        (col("matched") === col("total")).as("passed"))
  }

  /** BENFORD FIRST-DIGIT AUDIT (round-10 continuation) — the classic
    * fraud/synthetic-data screen: the distribution of the first
    * significant digit of order totals vs Benford's law. Totals go to
    * exact integer cents first; the first digit is the leading character
    * of the decimal rendering (identical on both engines for positive
    * bigints). The Benford expectation `log10(1+1/d)` is a 9-row LITERAL
    * table in exact milli units on BOTH engines — neither engine
    * evaluates a log, so there is no float to diverge. One scan, one
    * 9-group aggregate, one broadcast of the scalar total.
    */
  def dqBenford(spark: SparkSession, dir: String): DataFrame = {
    // round(1000*log10(1+1/d)) for d=1..9 — literals, not computed
    val expected = Seq(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L,
      5 -> 79L, 6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)
    val exp = expr(expected.map { case (d, m) => s"WHEN digit = $d THEN ${m}L" }
      .mkString("CASE ", " ", " END"))
    val obs = t(spark, dir, "orders")
      .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("observed"))
    obs.crossJoin(broadcast(obs.agg(sum("observed").as("total"))))
      .select(col("digit"), col("observed").cast("bigint").as("observed"),
        expr("1000 * observed div total").as("observed_milli"),
        exp.as("expected_milli"))
      .withColumn("dev_milli", abs(col("observed_milli") - col("expected_milli")))
  }

  /** L-DIVERSITY AUDIT (round-10 continuation) — the privacy gate beyond
    * [[dqKanonymity]]: within each quasi-identifier group
    * `(c_nationkey, c_mktsegment)`, the SENSITIVE attribute (account
    * balance bucketed to $1000) must take at least `l` distinct values,
    * else the group re-identifies balances even when k-anonymity holds.
    * Balances can be negative, so cents are shifted by +10^8 before the
    * bucket `div` to keep every term non-negative (bucket IDs stay
    * comparable — only distinctness matters). One composite-key
    * aggregate; output is |groups| rows.
    */
  def dqLdiversity(spark: SparkSession, dir: String, l: Int = 3): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_nationkey").cast("bigint").as("nationkey"), col("c_mktsegment").as("segment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000000L) div 100000").as("bal_bucket"))
      .groupBy("nationkey", "segment")
      .agg(count(lit(1)).as("k"), countDistinct("bal_bucket").as("l"))
      .select(col("nationkey"), col("segment"),
        col("k").cast("bigint").as("k"), col("l").cast("bigint").as("l"),
        (col("l") >= l).as("is_diverse"))

  /** LINEAR TREND FIT — least-squares slope of each event type's hourly
    * volume over time, in EXACT integer arithmetic: with x = hours since
    * the global first hour and y = hourly count,
    * `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`, reported in
    * milli-counts-per-hour. The numerator can be NEGATIVE (declining
    * series) — measured here: Spark's `div` and DuckDB's integer `//`
    * BOTH truncate toward zero (`-7 div 2 == -7 // 2 == -3`), so plain
    * division agrees on every sign (the "shift to non-negative" folklore
    * is only needed against floor-division engines). One counts
    * aggregate, one five-sum aggregate per type, one broadcast scalar.
    */
  def statsTrend(spark: SparkSession, dir: String): DataFrame = {
    val counts = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("y"))
    val origin = counts.agg(min(unix_micros(col("hour"))).as("h0"))
    counts.join(broadcast(origin))
      .withColumn("x", expr("(unix_micros(hour) - h0) div 3600000000"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pts"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"))
      .select(col("event_type"), col("n_pts").cast("bigint").as("n_pts"),
        col("sx").cast("bigint").as("sx"), col("sy").cast("bigint").as("sy"),
        expr("(1000 * (n_pts * sxy - sx * sy)) div (n_pts * sx2 - sx * sx)")
          .as("slope_milli"))
  }

  /** TOP SESSION PATHS — the product-analytics staple: per session, the
    * ordered `event_type` sequence (first `maxSteps` steps — longer
    * sessions truncate deterministically, flagged by `truncated`), then
    * the most common paths with their session counts. Path strings only
    * exist AFTER per-session aggregation, so the shuffle carries
    * (user, session) grouped rows, never cross-session strings; the final
    * top-k is `TakeOrderedAndProject`-shaped (orderBy + limit), not a
    * global sort.
    */
  def eventsTopPaths(spark: SparkSession, dir: String, maxSteps: Int = 8,
      k: Int = 20): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val sessions = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          expr("unix_micros(ts) - unix_micros(prev_ts) > 1800000000"), 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy("user_id", "session_seq")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("event_type")))).as("evs"))
      .select(
        expr(s"array_join(transform(slice(evs, 1, $maxSteps), e -> e.event_type), '>')")
          .as("path"),
        (size(col("evs")) > maxSteps).as("truncated"))
      .groupBy("path", "truncated")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path"), col("truncated"))
      .limit(k)
  }

  /** PEAK CONCURRENCY SWEEP — the interval-census staple ("how many
    * sessions were live at once, per hour?"): every session emits +1 at
    * start and −1 at end, and the running sum of the deltas IS the live
    * count. Per hour: `peak = (Σ deltas before the hour) + max in-hour
    * running sum`. Ties at one instant process starts before ends
    * (`delta DESC`), counting instant-overlap as concurrent; the in-hour
    * prefix max is invariant to ordering among equal (ts, delta) rows, so
    * the result is deterministic with no unique tiebreak needed. Hours
    * with no session boundary emit nothing (documented: the census
    * samples at boundaries).
    *
    * Scale: the sweep is the classic single-sort trap — a GLOBAL ordered
    * running sum. Here it is THREE-level: in-hour running sums partition
    * by the calendar hour; the cross-hour offset decomposes (r14
    * deep-read — the old form triangular-joined ALL hour totals, ≤|hours|²
    * rows, which at a decade span is ~4e9 join rows, not "metadata-sized")
    * into an in-DAY exclusive prefix over each day's ≤24 hour totals plus
    * a day-level triangular join over day totals (|days|² — two orders of
    * magnitude below |hours|² at any span). No single-partition window
    * anywhere; output identical (same shared oracle).
    */
  def eventsConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val sessions = graft.streaming.EventStream.sessionizeBatch(spark, dir)
      .select("session_start", "session_end")
    val deltas = sessions
      .select(col("session_start").as("ts"), lit(1L).as("delta"))
      .unionAll(sessions.select(col("session_end").as("ts"), lit(-1L).as("delta")))
      .withColumn("hour", date_trunc("hour", col("ts")))
    val inHour = Window.partitionBy("hour").orderBy(col("ts"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hourAgg = deltas
      .withColumn("run", sum(col("delta")).over(inHour))
      .groupBy("hour")
      .agg(max(col("run")).as("peak_in"), sum(col("delta")).as("total"))
      .withColumn("day", date_trunc("day", col("hour")))
    // level 2: exclusive prefix of earlier hours WITHIN the day — windows
    // of ≤ 24 rows, parallel across days
    val inDay = Window.partitionBy("day").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withDayLocal = hourAgg
      .withColumn("day_prefix", coalesce(sum(col("total")).over(inDay), lit(0L)))
    // level 3: offsets of all EARLIER days from the day totals — the
    // triangular join now runs over |days| rows, not |hours|
    val dayTotals = hourAgg.groupBy("day").agg(sum(col("total")).as("day_total"))
    val dayOffsets = dayTotals.alias("a")
      .join(dayTotals.alias("b"), col("b.day") < col("a.day"), "left")
      .groupBy(col("a.day").as("day"))
      .agg(coalesce(sum(col("b.day_total")), lit(0L)).as("day_offset"))
    withDayLocal.join(dayOffsets, Seq("day"))
      .select(col("hour"),
        (col("day_offset") + col("day_prefix") + col("peak_in"))
          .cast("bigint").as("peak_concurrency"))
  }

  /** TIME-WEIGHTED AVERAGE (TWAP) — the step-function mean every
    * financial/IoT series needs: each event's `value` (in integer cents)
    * holds until the user's next event; the average weights each value by
    * its holding duration in microseconds:
    * `twap = Σ value_i·(t_{i+1} − t_i)  div  (t_last − t_first)`.
    * All integer (cents × micros — documented bound:
    * max_cents · span_us < 2^63, fine to ~$10M held for ~30 years); the
    * last event contributes no duration (standard closed-interval TWAP).
    *
    * Scale: one `lead` window and one aggregate, both keyed on `user_id`
    * — a single exchange, the SCD2 shape.
    */
  def eventsTwap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .withColumn("dur_us",
        expr("unix_micros(next_ts) - unix_micros(ts)"))
      .groupBy("user_id")
      .agg(
        sum(when(col("next_ts").isNotNull, col("cents") * col("dur_us"))
          .otherwise(0L)).as("weighted"),
        sum(coalesce(col("dur_us"), lit(0L))).as("span_us"),
        count(lit(1)).as("n_events"))
      .filter(col("span_us") > 0)
      .select(col("user_id"),
        expr("weighted div span_us").as("twap_cents"),
        col("span_us").cast("bigint").as("span_us"),
        col("n_events").cast("bigint").as("n_events"))
  }

  /** LINEAR MULTI-TOUCH ATTRIBUTION — the fractional twin of the
    * last-touch path: every click in the `windowDays` lookback before a
    * purchase shares that purchase's credit equally, in integer
    * MICRO-credits with EXACT mass conservation: each of the n touches
    * gets `1e6 div n` and the LAST touch absorbs the remainder, so
    * credits per purchase sum to exactly 1,000,000 (the money-in-cents
    * discipline applied to fractional credit — no float drift, and the
    * conservation invariant is spec-asserted).
    *
    * Scale: the purchase×click pairing is a per-user interval join — an
    * equi-join on `user_id` with the time predicate applied co-located;
    * windows partition by `purchase_id` (bounded by a purchase's touch
    * count). Final rollup keys on the click.
    */
  def attributionLinear(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val e = events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cuser"),
        col("ts").as("cts"))
    val pairs = purchases.join(clicks,
      col("user_id") === col("cuser") &&
        col("cts") <= col("pts") &&
        col("cts") > col("pts") - expr(s"INTERVAL $windowDays DAYS"))
    val perPurchase = Window.partitionBy("purchase_id")
    pairs
      .withColumn("n", count(lit(1)).over(perPurchase))
      .withColumn("rk", row_number()
        .over(perPurchase.orderBy(col("cts"), col("click_id"))))
      .withColumn("credit_micro",
        when(col("rk") === col("n"),
          lit(1000000L) - expr("(1000000 div n) * (n - 1)"))
          .otherwise(expr("1000000 div n")))
      .groupBy(col("click_id"), col("cuser").as("user_id"))
      .agg(sum(col("credit_micro")).as("credit_micro"),
        count(lit(1)).as("n_purchases"))
      .select(col("user_id"), col("click_id"),
        col("credit_micro").cast("bigint").as("credit_micro"),
        col("n_purchases").cast("bigint").as("n_purchases"))
  }

  /** CALENDAR GAP-FILL with integer linear interpolation — the resampling
    * pass every time-series consumer needs before plotting/forecasting:
    * the hourly count grid is DENSIFIED to every calendar hour in the
    * observed range, and missing hours are filled by exact integer lerp
    * between the surrounding observations
    * (`(prev·(gap−j) + next·j) div gap` — counts are non-negative so
    * Spark `div` and DuckDB `//` agree), with edge gaps taking the
    * nearest observation.
    *
    * Scale: the grid is CALENDAR-bounded (|types| × hours), never event
    * volume — the only event-scale work is the initial (type, hour)
    * aggregate; the fill windows run over the tiny grid. Per-type window
    * partitions are bounded by the calendar too.
    */
  def eventsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    gapfillFromCounts(ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n")))
  }

  /** The fill body over an already-aggregated `(event_type, hour, n)`
    * table — shared verbatim by the batch operator above and the
    * streaming versioned count store
    * ([[graft.streaming.StreamMonitor.filled]]), so the densified series
    * a dashboard reads is computed by exactly the batch arithmetic. The
    * grid bounds derive from the counts (min/max present hour ==
    * hour-truncated min/max event ts — identical grid).
    */
  def gapfillFromCounts(counts: DataFrame): DataFrame = {
    val bounds = counts.agg(
      min(col("hour")).as("h0"),
      max(col("hour")).as("h1"))
    val grid = counts.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    val w = Window.partitionBy("event_type").orderBy("hour")
    val before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The forward-looking frame is expressed as a REVERSED running frame:
    // `last ignoreNulls over (DESC, unbounded preceding..current)` ==
    // `first ignoreNulls over (ASC, current..unbounded following)`, but
    // Spark executes running frames in O(n) while UNBOUNDED FOLLOWING
    // frames recompute the aggregate per row — O(n²) per partition, and
    // ONE outlier timestamp (the adversarial pre-1970 event) stretches the
    // grid to ~500k hours per type, turning the fill into 10^11 steps
    // (r16 find). Same partition key, so both orders share one exchange.
    // Grid-width contract: the grid spans observed min..max hour, so an
    // outlier timestamp inflates it LINEARLY — at 100 TB, pre-filter the
    // calendar domain upstream if the source can carry garbage epochs.
    val wDesc = Window.partitionBy("event_type").orderBy(col("hour").desc)
    val beforeDesc = wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(counts, Seq("event_type", "hour"), "left")
      .withColumn("prev_n", last(col("n"), ignoreNulls = true).over(before))
      .withColumn("prev_h",
        last(when(col("n").isNotNull, col("hour")), ignoreNulls = true).over(before))
      .withColumn("next_n", last(col("n"), ignoreNulls = true).over(beforeDesc))
      .withColumn("next_h",
        last(when(col("n").isNotNull, col("hour")), ignoreNulls = true).over(beforeDesc))
      .withColumn("j", expr("(unix_micros(hour) - unix_micros(prev_h)) div 3600000000"))
      .withColumn("gap", expr("(unix_micros(next_h) - unix_micros(prev_h)) div 3600000000"))
      .withColumn("n_filled", expr(
        """CASE WHEN n IS NOT NULL THEN n
          | WHEN prev_n IS NULL THEN next_n
          | WHEN next_n IS NULL THEN prev_n
          | ELSE (prev_n * (gap - j) + next_n * j) div gap END""".stripMargin))
      .select(col("event_type"), col("hour"),
        col("n").cast("bigint").as("n_raw"),
        col("n_filled").cast("bigint").as("n_filled"),
        col("n").isNull.as("filled"))
  }

  /** CHANGELOG COMPACTION (CDC upsert / SCD Type-1 serving): latest value
    * per key. Deliberately NOT the `row_number() = 1` window form — the
    * commutative `max(struct(ts, tiebreak, payload))` aggregate combines
    * MAP-SIDE (each input partition reduces to ≤ |keys| rows before the
    * exchange), so a hot key ships one row per upstream partition instead
    * of its whole history. Struct-max is not hash-aggregable, so Spark
    * runs SortAggregate — but its sort key is the GROUP KEY only
    * (user_id), never the window form's (user_id, ts, event_id)
    * full-history sort. The (ts, event_id) prefix makes the struct
    * ordering total, so the oracle's window form agrees exactly.
    */
  def eventsCompactLatest(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("last.event_id").as("last_event_id"),
        col("last.ts").as("last_ts"), col("last.event_type").as("current_type"),
        col("n_events").cast("bigint").as("n_events"))

  /** EDIT-DISTANCE-1 FUZZY SELF-JOIN via deletion neighborhoods (FastSS /
    * SymSpell): every string generates its |s|+1 single-deletion variants
    * (self included); two strings within edit distance 1 ALWAYS share a
    * variant (substitution → both delete that position; indel → the longer
    * one's deletion hits the shorter's self), so an equi-join on the
    * variant finds every pair — no n² comparison — and `levenshtein`
    * verifies the survivors exactly.
    *
    * Scale: |s|+1 explode factor on the shuffle (bounded by string
    * length); variant groups are alphabet-bounded (a variant of length
    * L−1 has ≤ (L)·|Σ| possible sources), so no bucket is a skew hazard.
    * The verify is a codegen'd `levenshtein` on co-located candidates.
    * The DuckDB oracle brute-forces all n² pairs — a green row proves the
    * neighborhood join LOSSLESS, not just plausible.
    */
  def fuzzyNameJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val c = t(spark, dir, "customer").select(col("c_custkey"), col("c_name"))
    // array_distinct BEFORE the explode: repeated-character runs (the
    // zero-padded digits here) make many deletion positions collide into
    // one variant, and duplicate variants inflate the join quadratically
    // per name pair (measured 31.6 s -> ~8 s at sf0.1)
    def variants(keyed: DataFrame, suffix: String): DataFrame = keyed.select(
      col("c_custkey").as(s"key_$suffix"), col("c_name").as(s"name_$suffix"),
      explode(expr(
        """array_distinct(transform(sequence(0, length(c_name)),
          |  i -> concat(substring(c_name, 1, i), substring(c_name, i + 2))))"""
          .stripMargin)).as(s"variant_$suffix"))
    // verify with graft_edit1 (O(L) banded scan), not levenshtein's O(L²)
    // DP — candidates sharing a deletion variant are within distance 2 by
    // construction, so the capped distance is exact here
    variants(c, "a").join(variants(c, "b"),
        col("variant_a") === col("variant_b") && col("key_a") < col("key_b"))
      .select("key_a", "name_a", "key_b", "name_b")
      .distinct()
      .withColumn("dist", expr("graft_edit1(name_a, name_b)"))
      .filter(col("dist") <= 1)
      .select(col("key_a"), col("name_a"), col("key_b"), col("name_b"),
        col("dist").cast("bigint").as("dist"))
  }

  /** RFM SEGMENTATION — the marketing-analytics classic: per customer,
    * Recency (latest order date), Frequency (order count) and Monetary
    * (lifetime cents) quintiles, combined into the `rfm` segment code
    * (555 = best). Each quintile is an `ntile(5)` over a TOTAL order
    * (metric + custkey tiebreak), so the assignment is deterministic and
    * the oracle matches bit-for-bit — the standard RFM ambiguity (ties
    * straddling a quintile boundary) is resolved by the tiebreak, not
    * left to partitioning luck.
    *
    * Scale: one orders aggregate keyed on the customer, then three
    * single-partition-free quintile windows? No — plain `ntile` needs a
    * global sort; at fixture scale that is one exchange of |customers|
    * 24-byte rows, and the skew-safe chunked NTILE twin
    * (`w_ntile_skew` family) is the documented 100 TB path for the same
    * arithmetic. This row keeps the plain form; the twin discipline
    * already proves both forms bit-equal.
    */
  def customerRfm(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).as("monetary_cents"))
    val r = ntile(5).over(Window.orderBy(col("last_order"), col("custkey")))
    val f = ntile(5).over(Window.orderBy(col("frequency"), col("custkey")))
    val m = ntile(5).over(Window.orderBy(col("monetary_cents"), col("custkey")))
    per
      .withColumn("r_score", r.cast("bigint"))
      .withColumn("f_score", f.cast("bigint"))
      .withColumn("m_score", m.cast("bigint"))
      .select(col("custkey"), col("last_order"),
        col("frequency").cast("bigint").as("frequency"),
        col("monetary_cents").cast("bigint").as("monetary_cents"),
        col("r_score"), col("f_score"), col("m_score"),
        expr("r_score * 100 + f_score * 10 + m_score").as("rfm"))
  }

  /** TPC-H Q16-shaped SUPPLIER VARIETY — distinct suppliers able to serve
    * each (brand, size) slice, written as the TWO-PHASE distinct
    * (`groupBy(key, supp)` then `groupBy(key)`) instead of
    * `countDistinct`: Spark plans multi-column `count(DISTINCT)` through
    * an Expand (row multiplication per aggregate) or a positional
    * dedup-exchange; the explicit two-phase form is one dedup aggregate +
    * one count aggregate, both map-side combined, and AQE coalesces the
    * tiny second exchange. Same numbers, narrower plan.
    */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val pairs = t(spark, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(t(spark, dir, "part")
        .filter(col("p_brand") =!= "Brand#1")
        .select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .select("p_brand", "p_size", "l_suppkey")
      .distinct() // phase 1: dedup on the full key — plain hash aggregate
    pairs.groupBy("p_brand", "p_size") // phase 2: count per slice
      .agg(count(lit(1)).as("supplier_cnt"))
      .select(col("p_brand"), col("p_size").cast("bigint").as("p_size"),
        col("supplier_cnt").cast("bigint").as("supplier_cnt"))
  }

  /** LORENZ CURVE / revenue concentration — "which share of customers
    * carries which share of revenue": customers ranked into deciles by
    * lifetime cents (descending, custkey tiebreak — total order), then
    * each decile's revenue and the CUMULATIVE share in permille. Decile 1
    * row answers the Pareto question directly ("top 10% carry X‰").
    *
    * Scale: the decile assignment is one `ntile` (the skew-safe chunked
    * twin is the 100 TB path, as for RFM); the cumulative share is a
    * triangular self-join over exactly 10 decile rows — metadata-sized,
    * no running-sum window at all.
    */
  def ordersLorenz(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      .withColumn("decile", ntile(10)
        .over(Window.orderBy(desc("cents"), col("custkey"))).cast("bigint"))
    val byDecile = per.groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
    val total = byDecile.agg(sum(col("cents")).as("total"))
    byDecile.alias("a")
      .join(byDecile.alias("b"), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"),
        col("a.n_customers").as("n_customers"), col("a.cents").as("cents"))
      .agg(sum(col("b.cents")).as("cum_cents"))
      .join(broadcast(total))
      .select(col("decile"), col("n_customers").cast("bigint").as("n_customers"),
        col("cents").cast("bigint").as("decile_cents"),
        expr("cum_cents * 1000 div total").as("cum_share_permille"))
  }

  /** FRESHNESS audit — the third DQ member: per event type, how stale is
    * the newest record relative to an AS-OF instant (parameterized, never
    * `now()` — wall-clock in a query breaks determinism and the oracle),
    * with a pass flag against a staleness budget. The fixture ends
    * 2024-01-31, so the default as-of of 2024-02-01 00:00 UTC gives
    * stable, meaningful lags.
    */
  def dqFreshness(spark: SparkSession, dir: String,
      asOf: String = "2024-02-01 00:00:00",
      budgetHours: Long = 24L): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(max(col("ts")).as("latest_ts"), count(lit(1)).as("n_rows"))
      .select(col("event_type"), col("latest_ts"),
        col("n_rows").cast("bigint").as("n_rows"),
        expr(s"(unix_micros(TIMESTAMP '$asOf') - unix_micros(latest_ts)) div 3600000000")
          .as("lag_hours"))
      .withColumn("fresh", col("lag_hours") <= budgetHours)

  /** K-ANONYMITY audit — the privacy-side twin of [[dqBattery]]: group the
    * table by its quasi-identifier columns and report how identifiable the
    * rows are. A row in a quasi-identifier group of size < k is
    * re-identifiable at k-anonymity level k; publishing pipelines gate on
    * `rows_below_k == 0` (or suppress/generalize those rows first).
    * One aggregate on the QI key, one tiny rollup — nothing driver-side.
    */
  def kAnonymity(spark: SparkSession, dir: String, k: Long = 5L): DataFrame =
    t(spark, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("c"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(col("c")).as("n_rows"),
        min(col("c")).as("k_anonymity"),
        sum(when(col("c") < k, col("c")).otherwise(0L)).as("rows_below_k"))
      .select(lit(k).as("k"), col("n_groups").cast("bigint").as("n_groups"),
        col("n_rows").cast("bigint").as("n_rows"),
        col("k_anonymity").cast("bigint").as("k_anonymity"),
        col("rows_below_k").cast("bigint").as("rows_below_k"),
        expr("rows_below_k * 1000 div n_rows").as("permille_below"))

  /** WINSORIZED robust statistics — the outlier-clipping pass that makes
    * mean-based metrics usable on heavy-tailed money columns: per
    * returnflag, l_extendedprice cents are clipped at the exact
    * value-atomic p01/p99 (b = smallest value whose cumulative count
    * reaches the rank — the `pipeline_ppl_buckets` boundary rule, so ties
    * cannot diverge between engines), then aggregated.
    *
    * Scale: percentile boundaries come from the per-flag VALUE histogram
    * with the two-level chunked prefix-sum (`stats_histogram_eqdepth`
    * recipe, partition keys (flag, value-chunk)) — no window ever sees a
    * corpus-sized or even domain-sized single partition; the ≤|flags|
    * boundary rows broadcast and clipping is map-only.
    */
  def statsWinsorize(spark: SparkSession, dir: String,
      maxChunks: Int = 1024): DataFrame = {
    val x = t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
    val hist0 = x.groupBy("flag", "cents").agg(count(lit(1)).as("cnt"))
    val span = hist0.groupBy("flag")
      .agg(min("cents").as("mn"), max("cents").as("mx"), sum("cnt").as("n"))
    val hist = hist0.join(broadcast(span), "flag")
      .withColumn("cb", expr(s"(cents - mn) div ((mx - mn) div $maxChunks + 1)"))
    val wLocal = Window.partitionBy("flag", "cb").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = hist.withColumn("local_cum", sum("cnt").over(wLocal))
    val totals = hist.groupBy("flag", "cb").agg(sum("cnt").as("tot"))
    val bounds = totals.groupBy("flag").agg(max("cb").as("cb_max"))
    val prefix = totals.join(broadcast(bounds), "flag")
      .filter(col("cb") < col("cb_max"))
      .select(col("flag"), explode(expr("sequence(cb + 1, cb_max)")).as("cb"), col("tot"))
      .groupBy("flag", "cb").agg(sum("tot").as("prev_cum"))
    val boundaries = local.join(prefix, Seq("flag", "cb"), "left")
      .withColumn("cum", col("local_cum") + coalesce(col("prev_cum"), lit(0L)))
      .groupBy("flag")
      .agg(
        min(when(col("cum") * 100 >= col("n"), col("cents"))).as("p01_cents"),
        min(when(col("cum") * 100 >= col("n") * 99, col("cents"))).as("p99_cents"))
    x.join(broadcast(boundaries), "flag")
      .withColumn("clipped", greatest(col("p01_cents"), least(col("p99_cents"), col("cents"))))
      .groupBy("flag")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("cents") < col("p01_cents"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("cents") > col("p99_cents"), 1L).otherwise(0L)).as("n_clipped_high"),
        sum(col("clipped")).as("sum_clipped_cents"),
        min(col("p01_cents")).as("p01_cents"),
        min(col("p99_cents")).as("p99_cents"))
  }

  /** MARKOV TRANSITION MINING over per-user event sequences — the
    * click-path / sequence-mining primitive: for every ordered pair of
    * consecutive events of a user ((ts, event_id) order), count the
    * (prev_type → next_type) transition and derive the row-conditional
    * probability in integer permille. The transition matrix is what
    * funnels, next-action prediction, and bot detection all read.
    *
    * Scale: one user_id exchange + the per-user lead window (the
    * documented skew caveat and chunk-bounded rewrite of
    * `q_window_lead_lag` apply verbatim); the normalization window runs
    * over the TYPE×TYPE aggregate — ≤ |types|² rows, never event volume.
    */
  def eventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events(spark, dir)
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("row_total", sum("n").over(Window.partitionBy("prev_type")))
      .select(
        col("prev_type"), col("next_type"), col("n"),
        expr("n * 1000 div row_total").as("p_permille"))
  }

  /** ANOMALY DETECTION over the hourly event-count series — the
    * robust-statistics monitor a pipeline runs over its own telemetry:
    * per event type, hours whose count deviates from the type's median by
    * more than 3× the median absolute deviation (MAD) are flagged.
    * Median/MAD instead of mean/stddev because a single broken hour
    * shifts a mean but not a median — the detector doesn't desensitize
    * itself to exactly the anomalies it exists to find.
    *
    * Exactness: both medians are LOWER medians selected by rank
    * (`min(v) where row_number·2 ≥ n` over the deterministic (value, hour)
    * order) — pure integer arithmetic, no interpolation, so the oracle
    * matches bit-for-bit, MAD = 0 degenerates safely (any deviation
    * flags).
    *
    * Scale: the corpus collapses to (type, hour) counts in one
    * map-combined aggregate; every window after that runs over the
    * CALENDAR-bounded aggregate (hours × types rows), never event volume
    * — the `events_retention` discipline.
    */
  def eventsAnomalyMad(spark: SparkSession, dir: String): DataFrame =
    anomalyFromCounts(
      events(spark, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n")))

  /** [[eventsAnomalyMad]] body over any (event_type, hour, n) counts frame
    * — shared by the STREAMING monitor
    * ([[graft.streaming.StreamMonitor]]), so the online flags cannot
    * drift from the batch contract.
    */
  def anomalyFromCounts(hc: DataFrame): DataFrame = {
    val wCnt = Window.partitionBy("event_type").orderBy(col("n"), col("hour"))
    val wType = Window.partitionBy("event_type")
    val withMed = hc
      .withColumn("rn", row_number().over(wCnt))
      .withColumn("n_hours", count(lit(1)).over(wType))
      .withColumn("med",
        min(when(col("rn") * 2 >= col("n_hours"), col("n"))).over(wType))
      .withColumn("dev", abs(col("n") - col("med")))
    val wDev = Window.partitionBy("event_type").orderBy(col("dev"), col("hour"))
    withMed
      .withColumn("rn2", row_number().over(wDev))
      .withColumn("mad",
        min(when(col("rn2") * 2 >= col("n_hours"), col("dev"))).over(wType))
      .select(
        col("event_type"), col("hour"), col("n"), col("med"), col("mad"),
        (col("dev") > col("mad") * 3).as("is_anomaly"))
  }

  /** RECORD LINKAGE — blocking + Fellegi–Sunter-style agreement scoring,
    * the entity-resolution shape every ingestion pipeline needs when two
    * feeds describe the same entities without a shared key.
    *
    * A "dirty" feed is synthesized in-query, deterministically, from the
    * customer table (lowercased name every 3rd key, account balance off
    * by 7 cents every 5th, segment lost every 11th) so the oracle can
    * replay the exact same records. Linkage then runs WITHOUT the key:
    *   - BLOCKING: candidates meet only inside (nationkey, balance-bucket)
    *     blocks; because the balance perturbation can cross a bucket
    *     edge, the dirty side probes its own bucket AND the one below
    *     (multi-probe blocking) — completeness by construction, candidate
    *     count ∝ block sizes, never n².
    *   - SCORING: pure-integer agreement weights (name exact 40 /
    *     case-folded 30; balance exact 30 / within 10 cents 25;
    *     segment 15); threshold 45 ≤ the worst true pair's 55, while a
    *     non-match tops out at 45 (names are unique) — so the best link
    *     is always the true record.
    *   - RESOLUTION: one best link per dirty record via a single
    *     `max(struct(score, -key))` aggregate (ties → smallest key), no
    *     per-record window.
    * Scale: the dirty derivation is map-only; the only exchanges are the
    * block equi-join and the per-record argmax aggregate.
    */
  def linkCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(
      col("c_custkey").as("k"),
      col("c_name").as("nm"),
      col("c_nationkey").as("nat"),
      round(col("c_acctbal") * 100).cast("bigint").as("cents"),
      col("c_mktsegment").as("mkt"))
    // +100000 keeps bucket arithmetic on non-negative values: Spark `div`
    // truncates toward zero while DuckDB `//` floors — identical only ≥ 0
    val orig = c.withColumn("blk", expr("(cents + 100000) div 10000"))
    val dirty = c.select(
      col("k").as("d_key"),
      when(col("k") % 3 === 0, lower(col("nm"))).otherwise(col("nm")).as("d_name"),
      col("nat").as("d_nat"),
      (col("cents") + when(col("k") % 5 === 0, 7L).otherwise(0L)).as("d_cents"),
      when(col("k") % 11 === 0, lit("UNKNOWN")).otherwise(col("mkt")).as("d_mkt"))
    val probes = dirty.select(col("*"),
      explode(expr("array((d_cents + 100000) div 10000, (d_cents + 100000) div 10000 - 1)"))
        .as("blk"))
    val scored = probes.join(orig, probes("d_nat") === orig("nat") && probes("blk") === orig("blk"))
      .withColumn("score",
        when(col("d_name") === col("nm"), 40)
          .when(col("d_name") === lower(col("nm")), 30).otherwise(0) +
          when(col("d_cents") === col("cents"), 30)
            .when(abs(col("d_cents") - col("cents")) <= 10, 25).otherwise(0) +
          when(col("d_mkt") === col("mkt"), 15).otherwise(0))
    scored.groupBy("d_key")
      .agg(
        max(struct(col("score").as("s"), (-col("k")).as("negk"))).as("best"),
        count(lit(1)).as("n_candidates"))
      .select(
        col("d_key"),
        (-col("best.negk")).as("best_key"),
        col("best.s").cast("bigint").as("best_score"),
        col("n_candidates"),
        (col("best.s") >= 45).as("matched"))
  }

  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val e = events(spark, dir)
      .withColumn("week", expr(s"unix_micros(ts) div $weekUs"))
    val perUser = e.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"), collect_set(col("week")).as("weeks"))
    val active = perUser
      .select(col("cohort_week"), explode(col("weeks")).as("week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active_users"))
    // cohort size = the offset-0 count, pulled across the cohort's rows
    // with a window OVER THE AGGREGATE (≤ weeks² rows total — calendar-
    // bounded, never corpus-sized): structurally one corpus scan, instead
    // of a self-join whose exchange reuse is AQE-timing-dependent
    val wCohort = Window.partitionBy("cohort_week")
    active
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active_users"))).over(wCohort))
      .select("cohort_week", "week_offset", "n_active_users", "cohort_size")
  }

  /** LEFT SEMI join: customers having at least one order above 200k.
    * The probe side (orders, filtered) can be broadcast; at 100 TB a semi
    * join ships only the distinct keys of the filtered side — never the
    * payload — which Catalyst derives from the semi-join shape by itself.
    */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val big = t(spark, dir, "orders").filter(col("o_totalprice") > 200000.0)
    cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
  }

  /** Data-profiling: exact per-column statistics in ONE scan + ONE
    * aggregate (all columns' stats as parallel aggregate expressions on a
    * single row, then unpivoted client-side via stack) — the
    * data-quality gate a pipeline runs before training. Money columns are
    * profiled in integer cents so the oracle matches bit-for-bit.
    *
    * Scale: count/null-count/min/max are partial-aggregated map-side;
    * the three exact distinct counts rewrite to Expand (one extra pass of
    * (column, value) pairs through the exchange, same shape as
    * [[countDistinctAgg]]); nothing collects. At 100 TB swap exact
    * distincts for `hll_sketch_estimate(hll_sketch_agg(x))` (documented,
    * one-line change).
    */
  def statsProfile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(
        col("l_quantity").cast("bigint").as("qty"),
        round(col("l_extendedprice") * 100).cast("bigint").as("price_cents"),
        round(col("l_discount") * 100).cast("bigint").as("disc_cents"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("qty").isNull, 1L).otherwise(0L)).as("qty_nulls"),
        countDistinct(col("qty")).as("qty_distinct"),
        min("qty").as("qty_min"), max("qty").as("qty_max"),
        sum(when(col("price_cents").isNull, 1L).otherwise(0L)).as("price_nulls"),
        countDistinct(col("price_cents")).as("price_distinct"),
        min("price_cents").as("price_min"), max("price_cents").as("price_max"),
        sum(when(col("disc_cents").isNull, 1L).otherwise(0L)).as("disc_nulls"),
        countDistinct(col("disc_cents")).as("disc_distinct"),
        min("disc_cents").as("disc_min"), max("disc_cents").as("disc_max"))
      .selectExpr(
        """stack(3,
          | 'l_quantity', n_rows, qty_nulls, qty_distinct, qty_min, qty_max,
          | 'l_extendedprice_cents', n_rows, price_nulls, price_distinct, price_min, price_max,
          | 'l_discount_cents', n_rows, disc_nulls, disc_distinct, disc_min, disc_max)
          | AS (column_name, n_rows, n_nulls, n_distinct, min_val, max_val)""".stripMargin)

  /** Equi-width histogram of l_extendedprice (in cents): bucket bounds
    * from the exact min/max, bucket assignment pure integer arithmetic so
    * Spark and DuckDB agree on every edge case. Two scans (bounds +
    * counts) — on a real table the bounds come free from file statistics;
    * the count pass is map-side partial-aggregated on ≤ `buckets` keys.
    */
  def statsHistogram(spark: SparkSession, dir: String, buckets: Int = 32): DataFrame = {
    val cents = t(spark, dir, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
    val bounds = cents.agg(min("cents").as("mn"), max("cents").as("mx"))
    cents.join(broadcast(bounds))
      // integer `div`, not `/`: double division rounds and a truncating
      // cast of a rounded quotient is not floor division at the edges
      .withColumn("bucket", expr(s"(cents - mn) * $buckets div (mx - mn + 1)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("cents").as("lo_cents"), max("cents").as("hi_cents"))
  }

  /** Equi-DEPTH histogram of l_extendedprice cents — ~equal ROW COUNT per
    * bucket (the optimizer-statistics / data-skew view [[statsHistogram]]'s
    * equi-width buckets can't give on skewed columns). Value-atomic: all
    * rows of one value share `bucket = ceil(cum(value)·B / n)`, computed in
    * PURE INTEGER arithmetic (`(cum·B + n − 1) div n`) so both engines
    * agree exactly; heavy single values may make buckets uneven — that is
    * the standard value-atomic contract.
    *
    * Scale: the percentileDiscSkewSafe recipe — one map-side-combined
    * VALUE histogram (bounded by the cents domain, not corpus size) —
    * with the cumulative sum fully DISTRIBUTED by the funnel-chunk
    * decomposition: a chunk-LOCAL cumulative window plus a per-chunk
    * prefix computed as an explode-to-later-chunks equi-shuffle
    * prefix-sum over the chunk totals. The chunk width is derived from
    * the OBSERVED value span (`(mx − mn) div maxChunks + 1`, pure column
    * arithmetic off a broadcast 1-row bounds aggregate), so the chunk
    * count is ≤ maxChunks for ANY value domain — a 64-bit-spread column
    * costs the same ≤ maxChunks²/2 12-byte prefix rows as cents do.
    * No single-partition WINDOW anywhere (PlanSpec-pinned); the only
    * `Exchange SinglePartition`s are the 1-row scalar aggregates (value
    * span, total count, max chunk id), which broadcast. Nothing
    * corpus-sized is ever sorted.
    */
  def statsHistogramEquiDepth(spark: SparkSession, dir: String, buckets: Int = 8,
      maxChunks: Int = 1024): DataFrame = {
    val hist0 = t(spark, dir, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
      .groupBy("cents")
      .agg(count(lit(1)).as("cnt"))
    val span = hist0.agg(min("cents").as("mn"), max("cents").as("mx"))
    val hist = hist0.join(broadcast(span))
      .withColumn("cb", expr(s"(cents - mn) div ((mx - mn) div $maxChunks + 1)"))
      .select("cents", "cnt", "cb")
    // level 1: cumulative within each value chunk — bounded partitions
    val wLocal = Window.partitionBy("cb").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = hist.withColumn("local_cum", sum("cnt").over(wLocal))
    // level 2: each chunk's total contributes to every LATER chunk's
    // prefix — a distributed prefix-sum via explode + equi-groupBy
    val totals = hist.groupBy("cb").agg(sum("cnt").as("tot"))
    val bounds = totals.agg(max("cb").as("cb_max"), sum("tot").as("n"))
    val prefix = totals.join(broadcast(bounds))
      // strict guard: sequence(a, b) is DESCENDING for a > b, so the last
      // chunk (cb = cb_max) must not emit a phantom [cb_max+1, cb_max]
      .filter(col("cb") < col("cb_max"))
      .select(explode(expr("sequence(cb + 1, cb_max)")).as("cb"), col("tot"))
      .groupBy("cb").agg(sum("tot").as("prev_cum"))
    local.join(prefix, Seq("cb"), "left")
      .join(broadcast(bounds.select("n")))
      .withColumn("cum", col("local_cum") + coalesce(col("prev_cum"), lit(0L)))
      .withColumn("bucket", expr(s"(cum * $buckets + n - 1) div n"))
      .groupBy("bucket")
      .agg(
        min("cents").as("lo_cents"),
        max("cents").as("hi_cents"),
        sum("cnt").as("n_rows"))
  }

  /** Bloom-pruned semi-join — the explicit runtime-filter pattern. The
    * selective dimension (high-value orders) folds into ONE broadcast
    * Bloom filter (`graft_bloom_build`, a few KiB); the fact side is
    * probed MAP-SIDE (`graft_bloom_contains`) so non-matching lineitems
    * never enter the join exchange, then the real semi-join removes the
    * filter's false positives. Output is therefore EXACTLY the plain
    * semi-join — the oracle is ordinary SQL, no accuracy bound needed;
    * the bloom stage only changes how much data the shuffle carries
    * (at 100 TB: fact rows that survive ≈ selectivity + FPR, here ~10%
    * of the table instead of all of it). Sizing rule: ~18 bits/member
    * (2^18 bits for the ~15k members at sf0.1) keeps the analytic FPR
    * (1-e^(-kn/m))^k under 1e-3; an UNDER-sized filter saturates to
    * fpr≈1 and silently degrades to a no-op prune, which is why
    * [[bloomFprCheck]] gates the bound per corpus.
    */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val keys = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"))
    // Two-phase runtime filter, the shape Spark's own AQE bloom injection
    // uses (a scalar subquery evaluated before the main query): the build
    // is a separate small job whose few-KiB result embeds as a LITERAL in
    // the probe filter, which therefore sits directly on the fact scan.
    // A first draft expressed the build as a 1-row broadcast join +
    // filter — Catalyst freely reorders inner joins and hoisted the probe
    // ABOVE the semi-join, where it pruned nothing (caught by PlanSpec).
    val bloomBytes = keys.agg(expr("graft_bloom_build(o_orderkey, 262144, 6)"))
      .head().getAs[Array[Byte]](0)
    val bloomLit = "X'" + bloomBytes.map("%02X".format(_)).mkString + "'"
    val pruned = t(spark, dir, "lineitem")
      .filter(expr(s"graft_bloom_contains($bloomLit, l_orderkey)"))
    pruned
      .join(keys, pruned("l_orderkey") === keys("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"))
  }

  /** Driver-checkable gate for the Bloom filter itself (the
    * `sketch_*_check` pattern): every member key must probe true (Bloom
    * filters have NO false negatives — this is structural, so the boolean
    * is exact), and the observed false-positive COUNT over the non-member
    * order keys must sit under 4× the analytic expectation
    * n_nm·(1-e^(-kn/m))^k plus a +3 Poisson slack, so the bound stays
    * meaningful at every SF instead of hardcoding one corpus size.
    * Deterministic because the hash is seedless.
    */
  def bloomFprCheck(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    t(spark, dir, "orders").createOrReplaceTempView("graft_bloom_orders")
    spark.sql(
      """WITH members AS (
        | SELECT o_orderkey FROM graft_bloom_orders WHERE o_totalprice > 450000.0),
        |bf AS (SELECT graft_bloom_build(o_orderkey, 262144, 6) AS bf FROM members),
        |probes AS (
        | SELECT o.o_orderkey,
        |  o.o_totalprice > 450000.0 AS is_member,
        |  graft_bloom_contains(bf.bf, o.o_orderkey) AS hit
        | FROM graft_bloom_orders o CROSS JOIN bf)
        |SELECT
        | CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
        | CAST(sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_non_members,
        | every(CASE WHEN is_member THEN hit ELSE TRUE END) AS no_false_negatives,
        | sum(CASE WHEN NOT is_member AND hit THEN 1.0 ELSE 0.0 END) <=
        |  4.0 * sum(CASE WHEN NOT is_member THEN 1.0 ELSE 0.0 END) *
        |   pow(1.0 - exp(-6.0 * sum(CASE WHEN is_member THEN 1 ELSE 0 END) / 262144.0), 6.0)
        |   + 3.0 AS fpr_bounded
        |FROM probes""".stripMargin)
  }

  /** LEFT ANTI join: customers with no OPEN order (NOT EXISTS). The status
    * filter keeps the result non-empty at every SF, so the oracle check is
    * not vacuous.
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val open = t(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    cust.join(open, cust("c_custkey") === open("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** Correlated scalar subquery, decorrelated by Catalyst into a join:
    * orders more than 1.5× their customer's average order value. All
    * arithmetic in integer cents (`2·cents·n > 3·Σcents` ⇔ `o > 1.5·avg`)
    * so the comparison is exact on both engines — a floating-point `avg`
    * could flip rows whose value sits on the threshold.
    *
    * Both aggregates ride in ONE `named_struct` subquery: written as two
    * scalar subqueries (the r1–r5 form) Catalyst decorrelates each
    * separately — two orders scans, two shuffled aggregates, two
    * broadcasts — because `MergeScalarSubqueries` only merges
    * NON-correlated subqueries. Struct-packing is that merge done by hand
    * for the correlated case: one scan + one aggregate + one broadcast
    * join, bit-identical output (verified against the two-subquery form
    * before the swap).
    */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_cents FROM (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
        |    (SELECT named_struct('n', count(*),
        |                         's', sum(CAST(round(i.o_totalprice * 100) AS BIGINT)))
        |     FROM graft_orders i WHERE i.o_custkey = o.o_custkey) AS agg
        |  FROM graft_orders o)
        |WHERE o_cents * 2 * agg.n > 3 * agg.s""".stripMargin)
  }

  /** Multiple COUNT(DISTINCT) in one aggregation — Catalyst plans this via
    * Expand (one pass, no per-distinct re-scan).
    */
  def countDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n"))

  /** Sliding window FRAME: per customer, the running sum over the current
    * and two previous orders by date — a rows-frame window aggregate
    * (complement of the rank-style windows in [[windowTopK]]).
    */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-2, Window.currentRow)
    t(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).over(w).as("cents_sum3"))
  }

  /** TIME-based RANGE window frame: per-user trailing 1-hour event count
    * and value sum at every event — the rate/velocity feature of a
    * streaming-adjacent pipeline, and a genuinely different frame engine
    * from [[runningSum]]'s ROWS frame (RANGE bounds are value offsets on
    * the ordering key and include ties). Single exchange on user_id; the
    * frame is evaluated with a sliding aggregate inside the sorted
    * partition, never a self-join.
    */
  def rangeFrameTrailing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, Window.currentRow) // [ts − 1 h, ts], µs
    events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(round(col("value") * 100).cast("bigint")).over(w).as("cents_trailing_1h"))
  }

  /** [[rangeFrameTrailing]] made SKEW-SAFE by time-chunking — the hot-user
    * guard for the window family (a 100 TB web corpus has bot users whose
    * single `user_id` partition would otherwise serialize one task and
    * spill). Events are partitioned by `(user_id, chunk)` where `chunk` is
    * the `chunkUs` time bucket, and each event in the last `windowUs` of
    * its chunk is replicated once into the NEXT chunk as frame context
    * (`is_own = false`, contributes to frames but emits no row). Because
    * `chunkUs >= windowUs`, an event's trailing window can only reach its
    * own and the previous chunk, so the rewrite is EXACT — the spec asserts
    * bit-equality with the plain form on a planted hot user, and the
    * catalog twin `q_range_frame_skew` shares `q_range_frame`'s oracle.
    *
    * Scale: the per-task bound drops from "hot user's whole history" to
    * "hot user's events per chunkUs (×2 for carries)" — tunable
    * parallelism = active time range / chunkUs per hot key, with ≤2×
    * replication of only the boundary band.
    */
  def rangeFrameTrailingSkewSafe(spark: SparkSession, dir: String,
      chunkUs: Long = 6L * 3600000000L): DataFrame = {
    val windowUs = 3600000000L
    require(chunkUs >= windowUs, "chunk must cover the frame so carries reach one chunk only")
    val e = events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("chunk", expr(s"ts_us div $chunkUs"))
    val own = e.withColumn("part_chunk", col("chunk")).withColumn("is_own", lit(true))
    val carry = e
      .filter(col("ts_us") >= (col("chunk") + 1) * lit(chunkUs) - lit(windowUs))
      .withColumn("part_chunk", col("chunk") + 1)
      .withColumn("is_own", lit(false))
    val w = Window.partitionBy("user_id", "part_chunk").orderBy(col("ts_us"))
      .rangeBetween(-windowUs, Window.currentRow)
    own.unionByName(carry)
      .select(
        col("event_id"), col("user_id"), col("is_own"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(round(col("value") * 100).cast("bigint")).over(w).as("cents_trailing_1h"))
      .filter(col("is_own"))
      .select("event_id", "user_id", "n_trailing_1h", "cents_trailing_1h")
  }

  /** [[eventLeadLag]] made SKEW-SAFE by the exact two-level decomposition:
    * LEAD/LAG is computed within `(user_id, chunk)` partitions (pass 1),
    * and ONLY the chunk-boundary rows — the first and last event of each
    * `(user, chunk)` — enter a second per-user window (pass 2) to find
    * their true cross-chunk neighbors. Unlike a naive adjacent-chunk carry,
    * this stays exact for SPARSE users (the global predecessor of a
    * chunk-first may live many empty chunks back): pass 2's per-user
    * partition holds at most 2 rows per non-empty chunk, so the hot-key
    * bound is "2 × chunks", never raw events. Results join back on
    * `(user_id, event_id)` and coalesce over the chunk-local values.
    */
  def eventLeadLagSkewSafe(spark: SparkSession, dir: String,
      chunkUs: Long = 6L * 3600000000L): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("chunk", expr(s"ts_us div $chunkUs"))
    val byUC = Window.partitionBy("user_id", "chunk")
    val marked = e
      .withColumn("rn_asc", row_number().over(byUC.orderBy(col("ts"), col("event_id"))))
      .withColumn("rn_desc", row_number().over(byUC.orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("gap_local",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1)
          .over(byUC.orderBy(col("ts"), col("event_id"))))
      .withColumn("next_local",
        lead(col("event_type"), 1).over(byUC.orderBy(col("ts"), col("event_id"))))
    // pass 2: per-user window over boundary rows only (≤ 2 per chunk) —
    // in that ordered set, the row before a chunk-first IS the previous
    // non-empty chunk's last, and the row after a chunk-last IS the next
    // non-empty chunk's first
    val boundary = marked.filter(col("rn_asc") === 1 || col("rn_desc") === 1)
    val byU = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val bridged = boundary
      .withColumn("gap_cross",
        when(col("rn_asc") === 1,
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byU)))
      .withColumn("next_cross",
        when(col("rn_desc") === 1, lead(col("event_type"), 1).over(byU)))
      .select(col("user_id").as("b_user"), col("event_id").as("b_event"),
        col("gap_cross"), col("next_cross"))
    marked.join(bridged,
        col("user_id") === col("b_user") && col("event_id") === col("b_event"), "left_outer")
      .select(
        col("user_id"), col("event_id"),
        coalesce(col("gap_local"), col("gap_cross")).as("gap_us"),
        coalesce(col("next_local"), col("next_cross")).as("next_type"))
  }

  /** TPC-H Q5-shaped 6-way join: revenue per nation for one region, with
    * the local-supplier condition (c_nationkey = s_nationkey). Only the
    * FIXED-cardinality dims hint-broadcast (nation 25 rows, region 5);
    * supplier and customer scale with the fact, so they ride plain
    * equi-joins AQE size-gates at runtime — the unavoidable fact-fact
    * exchange is lineitem⋈orders on orderkey (co-bucketing both on
    * orderkey would remove even that).
    */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    val supp = t(spark, dir, "supplier")
    val nat = t(spark, dir, "nation")
    val reg = t(spark, dir, "region")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(cust,
        ord("o_custkey") === cust("c_custkey") && cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .filter(reg("r_name") === "ASIA")
      .groupBy(nat("n_name").as("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("bigint"))
        .as("revenue_cents"))
  }

  /** Range join WITHOUT an equi key, made scalable by time-bucketing: for
    * every event, the number of events (any user) in the preceding 5
    * minutes. Each build row lands in one 300 s bucket; each probe row
    * checks its own and the previous bucket — the O(n²) inequality join
    * becomes an equi join on bucket with a residual time filter, the
    * standard bucketized-range-join rewrite (Spark has no IEJoin).
    */
  def rangeJoinDensity(spark: SparkSession, dir: String): DataFrame = {
    val windowUs = 300L * 1000000L // 5 minutes in µs
    val ev = events(spark, dir).select(col("event_id"), col("ts"))
    val bkt = (unix_micros(col("ts")) / windowUs).cast("bigint")
    val build = ev.select(col("ts").as("ts2"), bkt.as("bkt"))
    val probe = ev.select(col("event_id"), col("ts"),
      explode(array(bkt - 1, bkt)).as("bkt"))
    probe.join(build,
        probe("bkt") === build("bkt") &&
          build("ts2") >= probe("ts") - expr("INTERVAL 5 MINUTES") &&
          build("ts2") < probe("ts"),
        "left_outer")
      .groupBy("event_id")
      .agg(count(col("ts2")).as("n_prior_5min"))
  }

  /** GROUPING SETS — the explicit form (rollup/cube are the shorthands). */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM graft_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
  }

  /** Set INTERSECT: customers that placed BOTH an open and a finished
    * order (distinct set semantics, the complement of [[setExcept]]).
    */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    ord.filter(col("o_orderstatus") === "O").select("o_custkey")
      .intersect(ord.filter(col("o_orderstatus") === "F").select("o_custkey"))
  }

  /** UNION (distinct) — completes the set-op family with except/intersect:
    * customers with an open order or an above-average-value one.
    */
  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    ord.filter(col("o_orderstatus") === "O").select("o_custkey")
      .union(ord.filter(col("o_totalprice") > 200000.0).select("o_custkey"))
      .distinct()
  }

  /** INTERSECT ALL — multiset semantics: each customer key appears
    * min(#open, #finished) times, not once. Spark plans this as an
    * aggregate carrying two counts, not a join per duplicate.
    */
  def setIntersectAll(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    ord.filter(col("o_orderstatus") === "O").select("o_custkey")
      .intersectAll(ord.filter(col("o_orderstatus") === "F").select("o_custkey"))
  }

  /** EXCEPT ALL — multiset semantics: #all − #open occurrences survive. */
  def setExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    ord.select("o_custkey")
      .exceptAll(ord.filter(col("o_orderstatus") === "O").select("o_custkey"))
  }

  /** Salted join for skewed keys: the big side's hot keys are sharded into
    * `salt` sub-keys and the small side is replicated `salt`× so each
    * shard joins against its own copy — turning one straggler partition
    * into `salt` even ones. AQE's skew-join split handles sort-merge
    * stragglers automatically, but salting is the explicit form that also
    * works for hash-partitioned aggregations downstream. Semantics are
    * identical to the plain join (spec-checked in OperatorsSpec).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salt: Int): DataFrame = {
    val salted = big.withColumn("_salt", pmod(hash(monotonically_increasing_id()), lit(salt)))
    val replicated = small.withColumn("_salt", explode(array((0 until salt).map(lit(_)): _*)))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Audience overlap via theta sketches: one pass builds a per-event-type
    * sketch of distinct users, then set algebra on the (tiny) sketch rows
    * answers every pairwise union/intersection distinct-count — no
    * pairwise distinct joins over the fact table. Rows-only driver check;
    * accuracy is spec-checked in ThetaSpec.
    */
  def thetaOverlap(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("graft_events")
    spark.sql(
      """WITH sk AS (
        | SELECT event_type, theta_sketch_agg(user_id) AS sk
        | FROM graft_events GROUP BY event_type)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        | theta_sketch_estimate(theta_intersection(a.sk, b.sk)) AS both_users_est,
        | theta_sketch_estimate(theta_union(a.sk, b.sk)) AS either_users_est,
        | theta_sketch_estimate(theta_difference(a.sk, b.sk)) AS only_a_users_est
        |FROM sk a JOIN sk b ON a.event_type < b.event_type""".stripMargin)
  }

  /** The salted-join utility exercised as a catalog query: events (big,
    * user-keyed) joined to customer (dim) through [[saltedJoin]] with 8
    * shards, then aggregated per market segment. Result is
    * oracle-identical to the plain join — salting changes the partition
    * layout, never the semantics.
    */
  def eventsSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id").as("c_custkey"), col("value"))
    val cust = t(spark, dir, "customer").select("c_custkey", "c_mktsegment")
    saltedJoin(ev, cust, "c_custkey", 8)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("bigint")).as("value_cents"))
  }

  /** LEAD/LAG inter-event gaps per user — the windowed stream-gap operator
    * (time-since-last-event, what-comes-next). Deterministic tie-break on
    * (ts, event_id); integer microsecond gaps so the oracle matches exactly.
    * Scale: one window per user partition, shuffled once on user_id.
    */
  def eventLeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .select(
        col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"),
        lead(col("event_type"), 1).over(w).as("next_type"))
  }

  /** NTILE deciles of customer balance within each market segment (integer
    * cents). Per-segment windows parallelize across the cluster — no global
    * single-partition sort.
    */
  def ntileDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(desc("cents"), col("c_custkey"))
    t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      .withColumn("decile", ntile(10).over(w).cast("bigint"))
  }

  /** [[ntileDeciles]] made SKEW-SAFE: with 5 market segments, the plain
    * form's per-segment windows cap parallelism at 5 and each task sorts a
    * fifth of the table. This twin reconstructs the exact same deciles from
    * the global rank decomposed as
    * `rank = (# rows with higher cents in the segment) + (tie rank)`:
    *
    *   1. a per-(segment, cents) histogram — bounded by the cents VALUE
    *      DOMAIN (acctbal spans ~1.1M distinct cents), not corpus size;
    *      its cumulative window runs over histogram rows only;
    *   2. the tie rank via a window partitioned by (segment, cents) —
    *      HIGH-cardinality partitions (a tie group = rows sharing one
    *      exact balance), so the hot-task bound drops from n/5 to the
    *      largest tie group and parallelism scales with the value domain;
    *   3. the histogram joins back on (segment, cents) — value-domain-
    *      bounded but ~1M rows, so AQE sizes the join (no forced
    *      broadcast) — and NTILE's big-tiles-first rule
    *      (`n mod 10` tiles of `n div 10 + 1`, then tiles of `n div 10`)
    *      is applied to the reconstructed rank as pure integer arithmetic.
    *
    * Bit-equal to the plain form (spec) and shares its oracle.
    */
  def ntileDecilesSkewSafe(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
    val wCum = Window.partitionBy("c_mktsegment").orderBy(desc("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = base.groupBy("c_mktsegment", "cents").agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before", coalesce(sum("cnt").over(wCum), lit(0L)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("c_mktsegment")))
      .select("c_mktsegment", "cents", "cum_before", "n")
    val wTie = Window.partitionBy("c_mktsegment", "cents").orderBy("c_custkey")
    base
      .withColumn("tie_rank", row_number().over(wTie).cast("bigint"))
      .join(hist, Seq("c_mktsegment", "cents"))
      .withColumn("rn", col("cum_before") + col("tie_rank"))
      // INVARIANT pinning the ELSE branch's `div (n div 10)`: when n < 10
      // every row has rn <= n = (n % 10) * (n div 10 + 1), so the THEN
      // branch covers ALL rows and the ELSE's n div 10 = 0 divisor is
      // unreachable. Editing the THEN predicate breaks this — non-ANSI
      // div-by-zero would then yield silent NULL deciles.
      .withColumn("decile", expr(
        """CAST(CASE WHEN rn <= (n % 10) * (n div 10 + 1)
          |     THEN (rn - 1) div (n div 10 + 1) + 1
          |     ELSE (n % 10) + (rn - (n % 10) * (n div 10 + 1) - 1) div (n div 10) + 1
          |     END AS BIGINT)""".stripMargin))
      .select("c_custkey", "c_mktsegment", "cents", "decile")
  }

  /** KLL quantile sketch per group — mergeable approximate percentiles
    * (Spark's `kll_sketch_agg_double`, k = 200); rows-only driver check (scalar
    * doubles, so the harness can sort/hash them), accuracy is spec-checked
    * against exact rank quantiles in KllSpec.
    */
  def sketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("graft_li")
    spark.sql(
      """WITH q AS (
        | SELECT l_returnflag,
        |  kll_sketch_get_quantile_double(kll_sketch_agg_double(l_quantity),
        |   array(0.5D, 0.95D, 0.99D)) AS qty_q,
        |  kll_sketch_get_quantile_double(kll_sketch_agg_double(l_extendedprice),
        |   array(0.5D, 0.95D, 0.99D)) AS price_q
        | FROM graft_li GROUP BY l_returnflag)
        |SELECT l_returnflag,
        | element_at(qty_q, 1) AS qty_q50, element_at(qty_q, 2) AS qty_q95,
        | element_at(qty_q, 3) AS qty_q99,
        | element_at(price_q, 1) AS price_q50, element_at(price_q, 2) AS price_q95,
        | element_at(price_q, 3) AS price_q99
        |FROM q""".stripMargin)
  }

  // --- Persisted-sketch merge round trips (the cross-day rollup) ---------
  //
  // The pattern shared by all three: per-SHARD sketch blobs are written to
  // parquet (the shard key stands in for "day" — l_linenumber gives 7
  // shards per returnflag, date(ts) gives real days for events), read
  // back, and MERGED per group with Spark's sketch union aggregates — the
  // original rows are never re-scanned. The output is exact values plus
  // within-bound booleans (the `sketch_distinct_check` recipe), so the
  // DuckDB oracle computes the exact side and asserts TRUE: a merge that
  // loses or double-counts state hash-mismatches the driver row.

  private def withTempStore(prefix: String)(body: String => DataFrame): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      // materialize before the temp store is deleted
      Materialize(_ => body(store))
    } finally {
      new scala.reflect.io.Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  /** HLL blobs per (returnflag, linenumber) shard → parquet → merged
    * distinct-part estimate per returnflag, gated within 5% of exact.
    */
  def hllStoreMergeCheck(spark: SparkSession, dir: String): DataFrame = {
    withTempStore("graft-hll-store") { store =>
      t(spark, dir, "lineitem")
        .groupBy("l_returnflag", "l_linenumber")
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
        .write.mode("overwrite").parquet(s"$store/hll.parquet")
      val merged = ParquetSource.read(spark, s"$store/hll.parquet")
        .groupBy("l_returnflag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_parts"))
      val exact = t(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      exact.join(merged, "l_returnflag")
        .select(col("l_returnflag"),
          col("exact_parts").cast("bigint").as("exact_parts"),
          (abs(col("est_parts") - col("exact_parts")) <=
            col("exact_parts").cast("double") * 0.05).as("parts_within_5pct"))
    }
  }

  /** KLL blobs per (returnflag, linenumber) shard → parquet → merged
    * median per returnflag, gated inside the exact 45–55% rank bounds
    * (KLL's guarantee is a RANK bound; merge order may move the value
    * inside it, so the gate is the bound, not byte equality).
    */
  /** Frequent-items blobs per user-shard → parquet → merged heavy hitters
    * per value bucket — gated BIT-EXACTLY against the true counts: the
    * distinct event-type count (5) is far below `maxMapSize`, so the
    * sketch never evicts and every estimate is exact; the gate therefore
    * pins `estimate == exact count` for every item, not a tolerance.
    */
  def freqStoreMergeCheck(spark: SparkSession, dir: String): DataFrame = {
    withTempStore("graft-freq-store") { store =>
      events(spark, dir)
        .withColumn("shard", col("user_id") % 8)
        .groupBy("shard")
        .agg(expr(s"approx_top_k_accumulate(event_type, ${FreqItemsCheck.ItemsTracked})").as("sk"))
        .write.mode("overwrite").parquet(s"$store/freq.parquet")
      val merged = ParquetSource.read(spark, s"$store/freq.parquet")
        .select(explode(expr(
          s"approx_top_k_estimate(approx_top_k_combine(sk, ${FreqItemsCheck.ItemsTracked}), 10)")).as("t"))
        .select(col("t.item").as("event_type"), col("t.count").as("est"))
      val exact = events(spark, dir)
        .groupBy("event_type").agg(count(lit(1)).as("exact_n"))
      exact.join(merged, "event_type")
        .select(col("event_type"),
          col("exact_n").cast("bigint").as("exact_n"),
          (col("est") === col("exact_n")).as("estimate_exact"))
    }
  }

  def kllStoreMergeCheck(spark: SparkSession, dir: String): DataFrame = {
    withTempStore("graft-kll-store") { store =>
      t(spark, dir, "lineitem")
        .groupBy("l_returnflag", "l_linenumber")
        .agg(expr("kll_sketch_agg_double(l_quantity)").as("sk"))
        .write.mode("overwrite").parquet(s"$store/kll.parquet")
      ParquetSource.read(spark, s"$store/kll.parquet").createOrReplaceTempView("graft_sketch_blobs")
      t(spark, dir, "lineitem").createOrReplaceTempView("graft_li")
      spark.sql(
        """WITH q AS (
          | SELECT l_returnflag,
          |  element_at(kll_sketch_get_quantile_double(kll_merge_agg_double(sk), array(0.5D)), 1) AS q50
          | FROM graft_sketch_blobs GROUP BY l_returnflag),
          |r AS (
          | SELECT l_returnflag, l_quantity,
          |  CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) AS BIGINT) AS rn,
          |  count(*) OVER (PARTITION BY l_returnflag) AS n
          | FROM graft_li),
          |b AS (
          | SELECT l_returnflag,
          |  max(CASE WHEN rn = CAST(ceil(n * 0.45) AS BIGINT) THEN l_quantity END) AS lo,
          |  max(CASE WHEN rn = CAST(ceil(n * 0.55) AS BIGINT) THEN l_quantity END) AS hi
          | FROM r GROUP BY l_returnflag)
          |SELECT q.l_returnflag, b.lo, b.hi,
          | q.q50 >= b.lo AND q.q50 <= b.hi AS q50_within_rank_bounds
          |FROM q JOIN b ON q.l_returnflag = b.l_returnflag""".stripMargin)
    }
  }

  /** Theta blobs per (event_type, day) → parquet → merged distinct-user
    * estimate per event_type, gated within 5% of exact (+1 absolute slack
    * for tiny cohorts, as in `sketch_theta_check`).
    */
  def thetaStoreMergeCheck(spark: SparkSession, dir: String): DataFrame = {
    withTempStore("graft-theta-store") { store =>
      events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("theta_sketch_agg(user_id)").as("sk"))
        .write.mode("overwrite").parquet(s"$store/theta.parquet")
      val merged = ParquetSource.read(spark, s"$store/theta.parquet")
        .groupBy("event_type")
        .agg(expr("theta_sketch_estimate(theta_union_agg(sk))").as("est_users"))
      val exact = events(spark, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(merged, "event_type")
        .select(col("event_type"),
          col("exact_users").cast("bigint").as("exact_users"),
          (abs(col("est_users") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.05 + 1.0).as("users_within_5pct"))
    }
  }

  /** PEARSON CORRELATION MATRIX over the lineitem measures — the feature-
    * diagnostics primitive (collinearity screening before a model eats the
    * columns). One pass computes every moment — n, Σx per variable,
    * Σx·y per unordered pair including squares — as EXACT integer sums
    * over quantized features (whole units / hundred-dollar / percent), and
    * r falls out per pair in milli-units from those sums. Because the
    * integer moments are bit-identical on any engine and any partitioning
    * (bigint addition commutes), the double arithmetic downstream is a
    * pure function of identical inputs — the oracle matches bit-for-bit
    * without float-summation hazards. Quantization bounds every moment
    * under 2^53 AND the BIGINT range through sf100.
    *
    * Scale: ONE scan of the fact table, one partial-aggregated reduction
    * to a single row of 15 moments, then a metadata-sized explode into
    * the 6 pair rows. No shuffle carries data — only the 15 partials.
    */
  def statsCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(
      round(col("l_quantity")).cast("bigint").as("qty"),
      round(col("l_extendedprice") / 100).cast("bigint").as("prc"),
      round(col("l_discount") * 100).cast("bigint").as("dsc"),
      round(col("l_tax") * 100).cast("bigint").as("tax"))
    val vars = Seq("qty", "prc", "dsc", "tax")
    val aggs = Seq(count(lit(1)).as("n")) ++
      vars.map(v => sum(col(v)).as(s"s_$v")) ++
      (for { i <- vars.indices; j <- i until vars.length } yield
        sum(col(vars(i)) * col(vars(j))).as(s"s_${vars(i)}_${vars(j)}"))
    val m = li.agg(aggs.head, aggs.tail: _*)
    val pairs = for { i <- vars.indices; j <- (i + 1) until vars.length }
      yield (vars(i), vars(j))
    val structs = pairs.map { case (a, b) =>
      struct(lit(a).as("var_a"), lit(b).as("var_b"),
        expr(s"CAST(round(1000.0 * (n * s_${a}_$b - s_$a * s_$b) / " +
          s"(sqrt(CAST(n * s_${a}_$a - s_$a * s_$a AS DOUBLE)) * " +
          s"sqrt(CAST(n * s_${b}_$b - s_$b * s_$b AS DOUBLE)))) AS BIGINT)").as("r_milli"))
    }
    m.select(explode(array(structs: _*)).as("p"))
      .select(col("p.var_a").as("var_a"), col("p.var_b").as("var_b"),
        col("p.r_milli").as("r_milli"))
  }

  // ------------------------------------------------------------------------
  // Round-10 TPC-H shape batch: the remaining classic plan shapes the
  // catalog lacked — correlated min (Q2), EXISTS semi (Q4), left-outer
  // count distribution (Q13), max-of-agg (Q15), HAVING-subquery join-back
  // (Q18), EXISTS + NOT-EXISTS double correlation (Q21), and scalar-avg
  // subquery + anti join (Q22). Each is adapted to the fixture's columns
  // (no partsupp / commit / receipt dates in the generated tables) while
  // keeping the REFERENCE plan shape intact, and keeps money in integral
  // cents end-to-end so the DuckDB oracles match bit-for-bit.
  // ------------------------------------------------------------------------

  /** INTEGER EWMA (round 10) — exponentially-weighted hourly event volume
    * per type, α = 1/4, as the exact integer recurrence
    * `S_t = (3·S_{t−1} + Y_t) div 4`, seeded at the first hour's count.
    * A float EWMA can never be oracle-exact (the fold is sequential and
    * FP addition doesn't associate); the integer recurrence IS exact:
    * both engines fold the IDENTICAL ordered integer list — Spark via
    * `aggregate` over the sorted per-type series, DuckDB via
    * `list_reduce` (which seeds from the first element, matching the
    * sentinel branch here) — and all terms are non-negative, so `div`
    * and `//` agree (build-conventions rule).
    *
    * Scale: the per-type series is bounded by CALENDAR HOURS, never event
    * volume (the StreamMonitor store argument), so the `collect_list` is
    * a bounded aggregation state, and the whole operator is one
    * map-combined exchange.
    */
  def eventsEwma(spark: SparkSession, dir: String): DataFrame =
    ewmaFromCounts(events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("y")))

  /** The EWMA fold over an (event_type, hour, y) counts table — SHARED by
    * the batch operator and [[graft.streaming.StreamMonitor.ewma]] (the
    * reader over the versioned count store), so the streaming and batch
    * smoothed values are computed by the same arithmetic always.
    */
  def ewmaFromCounts(counts: DataFrame): DataFrame =
    counts
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("hour"), col("y")))).as("series"))
      .select(col("event_type"),
        size(col("series")).cast("bigint").as("n_hours"),
        expr("aggregate(transform(series, p -> p.y), CAST(-1 AS BIGINT), " +
          "(acc, y) -> IF(acc = -1, y, (3 * acc + y) div 4))").as("ewma_last"),
        expr("element_at(series, -1).y").as("last_hour_count"),
        expr("aggregate(transform(series, p -> p.y), 0L, (acc, y) -> acc + y)").as("total"))

  /** RANK-FUNCTION FAMILY (round 10) — dense_rank / percent_rank /
    * cume_dist over each customer's orders by price, one window pass
    * (single exchange on `o_custkey`, one in-partition sort serves all
    * three). The ordering is price alone — NO unique tiebreak — because
    * all three functions are TIE-INVARIANT (tied rows share each value),
    * so the output is deterministic anyway and dense_rank keeps its real
    * semantics (a `(price, orderkey)` ordering would make every ordering
    * tuple distinct and collapse dense_rank into row_number). The
    * rational outputs quantize to exact micro-units: both engines derive
    * them from identical integer (rank, count) pairs.
    */
  def qRankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"))
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("dense_rk", dense_rank().over(w).cast("bigint"))
      .withColumn("pct_rank_micros",
        round(percent_rank().over(w) * 1000000).cast("bigint"))
      .withColumn("cume_dist_micros",
        round(cume_dist().over(w) * 1000000).cast("bigint"))
      .drop("o_totalprice")
  }

  /** The rank family's chunk-bounded SKEW twin (same oracle verbatim):
    * a VALUE histogram per customer carries the cumulative machinery —
    * `dense_rank` is the value's index in the histogram, `rank` is
    * `cum_before + 1`, `cume_dist` is `(cum_before + cnt) / n` — so the
    * only per-row work is the histogram join-back; no window ever sorts a
    * whole hot key's rows, only its DISTINCT VALUES. The rational forms
    * replicate Spark's evaluation shape exactly
    * (`(rank−1)/(n−1) · 1e6`, same op order) so the micro-unit rounding
    * cannot diverge; single-row partitions pin percent_rank = 0 the way
    * Spark's special case does.
    */
  def qRankFamilySkewSafe(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val byVal = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"))
    val hist = base.groupBy("o_custkey", "o_totalprice").agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before",
        coalesce(sum("cnt").over(byVal.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("dense_rk", row_number().over(byVal).cast("bigint"))
      .withColumn("n", sum("cnt").over(Window.partitionBy("o_custkey")))
    base.join(hist, Seq("o_custkey", "o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"), col("dense_rk"),
        when(col("n") === 1L, 0L).otherwise(
          round(col("cum_before").cast("double") / (col("n") - 1L) * 1000000).cast("bigint"))
          .as("pct_rank_micros"),
        round((col("cum_before") + col("cnt")).cast("double") / col("n") * 1000000)
          .cast("bigint").as("cume_dist_micros"))
  }

  /** TPC-H Q6 FORECAST REVENUE — the pure scan-filter-aggregate: one pass,
    * every predicate pushed to the scan, one partial-aggregated reduction
    * to a single row. The discount band compares on integral percent
    * (`round(disc·100) BETWEEN 5 AND 7`) so both engines gate identically.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        round(col("l_discount") * 100).cast("bigint").between(5, 7) &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100).cast("bigint") *
          round(col("l_discount") * 100).cast("bigint")).as("revenue_cents_pct"))

  /** TPC-H Q7 VOLUME SHIPPING — revenue between a nation PAIR in both
    * directions, by year: supplier nation and customer nation resolved
    * through supplier⋈nation / customer⋈nation maps (plain equi-joins —
    * both maps scale with the fact, so AQE sizes them; nation itself is
    * the only fixed side). The disjunctive pair filter implies each side
    * individually lies in {A, B}, so that membership test is PUSHED INTO
    * the maps (each keeps ~2/25 of its rows — an inner join drops
    * non-members anyway): the maps arrive pre-shrunk at the join, which
    * both speeds AQE's broadcast conversion and cuts the shuffled bytes
    * when the maps are too big to broadcast. One exchange (the final
    * group-by).
    */
  def q7NationVolume(spark: SparkSession, dir: String,
      nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val supN = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(nationA, nationB))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custN = t(spark, dir, "customer")
      .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(nationA, nationB))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint") *
        (lit(100L) - round(col("l_discount") * 100).cast("bigint"))).as("revenue"))
  }

  /** TPC-H Q9-shaped PRODUCT PROFIT by supplier nation and year. The
    * fixture has no partsupp supply cost, so profit is revenue minus 80%
    * of the part's retail value for the shipped quantity — same plan
    * shape (the name-filtered part slice joins the fact as an AQE-sized
    * equi-join), integral cents·pct units.
    *
    * Scale: the fact NEVER touches the supplier map — profit first
    * reduces to (l_suppkey, year) partial sums (map-side combined, one
    * exchange of ≤|suppliers|·|years| rows), and the supplier⋈nation
    * name map joins onto that already-reduced frame before the tiny
    * nation/year re-aggregate. Re-attaching dimensions after the
    * reduction is the q10/q2 discipline: at 100 TB the supplier map is
    * gigabytes, but the frame it joins is ~suppliers-sized either way.
    */
  def q9ProfitByNation(spark: SparkSession, dir: String,
      nameFilter: String = "red"): DataFrame = {
    val parts = t(spark, dir, "part")
      .filter(col("p_name").contains(nameFilter))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("bigint").as("retail_cents"))
    val supN = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    t(spark, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .withColumn("amount",
        round(col("l_extendedprice") * 100).cast("bigint") *
          (lit(100L) - round(col("l_discount") * 100).cast("bigint")) -
          col("retail_cents") * round(col("l_quantity")).cast("bigint") * 80L)
      .groupBy(col("l_suppkey"), year(col("l_shipdate")).cast("bigint").as("o_year"))
      .agg(sum(col("amount")).as("amount_sum"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(col("amount_sum")).as("sum_profit"))
  }

  /** TPC-H Q10 RETURNED-ITEM REPORTING — top customers by revenue lost to
    * returns in a quarter: returnflag filter on the scan, nation (fixed
    * 25 rows) hint-broadcast into the customer map, the customer map
    * itself joined AFTER the per-custkey reduction (AQE-sized — customer
    * scales with the fact), top-20 with a custkey tiebreak so the cut is
    * deterministic.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("bigint").as("acctbal_cents"),
        col("n_name"))
    t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint") *
        (lit(100L) - round(col("l_discount") * 100).cast("bigint"))).as("revenue"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").cast("bigint").as("c_custkey"), col("c_name"),
        col("revenue"), col("acctbal_cents"), col("n_name"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q11-shaped IMPORTANT SHARE — the HAVING-scalar-subquery: parts
    * whose revenue exceeds a permille of the GLOBAL total. The scalar
    * total is a one-row broadcast and the gate is cross-multiplied
    * (`value·1000 > total`), so everything stays integral.
    */
  def q11ImportantShare(spark: SparkSession, dir: String,
      permyriad: Long = 7L): DataFrame = {
    val perPart = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("value_cents"))
    val total = perPart.agg(sum(col("value_cents")).as("total_cents"))
    perPart.join(broadcast(total))
      // 0.07% of global value — ~1.4× the uniform share on the 2000-part
      // fixture, so the gate keeps a meaningful tail (68 parts at sf0.01)
      .filter(col("value_cents") * 10000L > col("total_cents") * permyriad)
      .select(col("l_partkey").cast("bigint").as("p_partkey"), col("value_cents"))
  }

  /** TPC-H Q12-shaped SHIPPING PRIORITY COUNTS — the CASE-sum pivot over
    * order priority per line status (the fixture's ship-mode stand-in),
    * for lines shipped in one year. One join (orders side projected to
    * two columns), one exchange on a 2-value key.
    */
  def q12ShipmodePriority(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(spark, dir, "orders").select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))

  /** TPC-H Q14 PROMO REVENUE SHARE — promo-typed revenue as a permille of
    * a month's total: CASE-gated sums in ONE aggregate, the part-type map
    * an AQE-sized equi-join (part scales with the fact), integer division
    * only at the end.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(t(spark, dir, "part").select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .withColumn("rev", round(col("l_extendedprice") * 100).cast("bigint") *
        (lit(100L) - round(col("l_discount") * 100).cast("bigint")))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0L)).as("promo_revenue"),
        sum(col("rev")).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        expr("promo_revenue * 1000 div total_revenue").as("promo_permille"))

  /** TPC-H Q19 DISCOUNTED REVENUE — the disjunction-of-conjunctions
    * predicate (brand × quantity band), the planner's OR-pushdown
    * workout: the whole filter rides the join condition, so rows outside
    * every band never reach the aggregate.
    */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .withColumn("qty", round(col("l_quantity")).cast("bigint"))
    val p = t(spark, dir, "part").select("p_partkey", "p_brand")
    li.join(p, col("l_partkey") === col("p_partkey") &&
        ((col("p_brand") === "Brand#1" && col("qty").between(1, 11)) ||
         (col("p_brand") === "Brand#2" && col("qty").between(10, 20)) ||
         (col("p_brand") === "Brand#3" && col("qty").between(20, 30))))
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100).cast("bigint") *
          (lit(100L) - round(col("l_discount") * 100).cast("bigint"))).as("revenue"))

  }

  /** TPC-H Q20-shaped EXCESS SUPPLIERS — the nested-aggregate semi join:
    * suppliers whose shipped quantity of the name-filtered parts in a
    * year exceeds the average supplier's (cross-multiplied:
    * `qty·n_supp > total`), with names attached after the reduction (the
    * survivor set is tiny, so AQE broadcasts it — no hint needed on the
    * fact-proportional supplier map).
    */
  def q20ExcessSuppliers(spark: SparkSession, dir: String,
      nameFilter: String = "red"): DataFrame = {
    val parts = t(spark, dir, "part")
      .filter(col("p_name").contains(nameFilter)).select("p_partkey")
    val perSupp = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_quantity")).cast("bigint")).as("qty"))
    val avgGate = perSupp.agg(sum(col("qty")).as("total_qty"),
      count(lit(1)).as("n_supp"))
    val supN = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    perSupp.join(broadcast(avgGate))
      .filter(col("qty") * col("n_supp") > col("total_qty"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("n_name"), col("qty"))
  }

  /** TPC-H Q2-shaped MIN-COST SUPPLIER — the correlated scalar MIN
    * (`ps_supplycost = (SELECT min(ps_supplycost) … WHERE same part)`)
    * decorrelated the way Catalyst would: per-(part, supplier) cost from
    * lineitem (the fixture has no partsupp), a per-part MIN aggregate,
    * and an equi-join back on `(part, cost == min_cost)` — ties emit all
    * minimal suppliers, exactly like Q2. Region restriction (ASIA) rides
    * the supplier dimension; `p_size = 15` plays Q2's part filter.
    *
    * Scale: cost aggregation shuffles on (l_partkey, l_suppkey) once; the
    * per-part MIN reuses that partitioning (partial agg upstream); the
    * dimensions (part slice, ASIA suppliers) are AQE-sized equi-joins —
    * part and supplier scale with the fact, so no broadcast hint.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String,
      size: Int = 15, region: String = "ASIA"): DataFrame = {
    val asiaSupp = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === region)
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val sizedParts = t(spark, dir, "part")
      .filter(col("p_size") === size)
      .select("p_partkey", "p_name")
    // Aggregate on KEYS ONLY — the fact-side exchange carries two bigints
    // per row; the dimension strings join onto the tiny winner set at the
    // end instead of riding the shuffle (100 TB hygiene: never shuffle
    // payload you can re-attach after the reduction).
    // sizedParts first: it is a plain scan-filter (statically sized, so
    // the planner broadcasts it without AQE) at ~1/50 selectivity — the
    // join-derived ASIA supplier map then sees a 50×-smaller fact side
    val cost = t(spark, dir, "lineitem")
      .join(sizedParts.select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .join(asiaSupp.select("s_suppkey"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("cost_cents"))
    val minCost = cost.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("cost_cents")).as("min_cost_cents"))
    cost.join(minCost,
        col("l_partkey") === col("mc_partkey") && col("cost_cents") === col("min_cost_cents"))
      .join(asiaSupp, col("l_suppkey") === col("s_suppkey"))
      .join(sizedParts, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey").cast("bigint").as("p_partkey"), col("p_name"),
        col("s_name"), col("n_name"), col("cost_cents"))
  }

  /** TPC-H Q4-shaped ORDER-PRIORITY WAIT — the EXISTS-correlated semi
    * join: orders placed in a quarter having at least one lineitem
    * shipped more than `lateDays` after the order date (the fixture's
    * commit/receipt-date analogue), counted per priority. The EXISTS
    * becomes a LEFT SEMI join with the date comparison in the join
    * condition — no decorrelation pass, no duplicate counting.
    *
    * Scale: the quarter filter prunes the orders scan; the semi join
    * shuffles on orderkey and short-circuits per matched order.
    */
  def q4PriorityWait(spark: SparkSession, dir: String,
      quarterStart: String = "1996-01-01", lateDays: Int = 60): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(quarterStart).cast("timestamp") &&
        col("o_orderdate") < lit(quarterStart).cast("timestamp") + expr("INTERVAL 3 MONTHS"))
    val li = t(spark, dir, "lineitem").select(col("l_orderkey").as("lk"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("lk") &&
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q13 CUSTOMER DISTRIBUTION — the left-outer count histogram:
    * orders per customer (zero preserved via LEFT OUTER with the
    * priority filter INSIDE the join), then the distribution of those
    * counts. The two-phase aggregate is the shape: first keyed on the
    * 1.5M-row side, second on the ~tens of distinct counts.
    *
    * Scale: phase 1 shuffles once on custkey (map-side partials); phase 2
    * is metadata-sized. No window anywhere.
    */
  def q13CustDist(spark: SparkSession, dir: String,
      excludedPriority: String = "1-URGENT"): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= excludedPriority)
      .select(col("o_orderkey"), col("o_custkey"))
    val perCust = t(spark, dir, "customer").select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips the null pad rows
    perCust.groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q15 TOP SUPPLIER — the max-of-aggregate: per-supplier revenue
    * over one quarter, then the supplier(s) achieving the global maximum.
    * The scalar `(SELECT max(total_rev) …)` becomes a one-row broadcast
    * joined back — never a global sort.
    *
    * Scale: revenue aggregates in one exchange on l_suppkey; the max is a
    * single-row reduction; supplier names join onto the one-or-few-row
    * winner set (AQE broadcasts the winners, not the supplier map).
    */
  def q15TopSupplier(spark: SparkSession, dir: String,
      quarterStart: String = "1996-01-01"): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(quarterStart).cast("timestamp") &&
        col("l_shipdate") < lit(quarterStart).cast("timestamp") + expr("INTERVAL 3 MONTHS"))
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("bigint"))
      .withColumn("dpct", round(col("l_discount") * 100).cast("bigint"))
      .groupBy("l_suppkey")
      .agg(sum(col("cents") * (lit(100L) - col("dpct"))).as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(maxRev), col("total_rev") === col("max_rev"))
      .join(t(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").cast("bigint").as("s_suppkey"), col("s_name"), col("total_rev"))
  }

  /** TPC-H Q18 LARGE-QUANTITY ORDERS — the HAVING-subquery join-back:
    * orders whose lineitems sum past `minQty` units, joined to customer
    * and order details. The IN-subquery becomes the aggregate itself
    * joined back (they are the same rows), so lineitem is scanned once
    * for the gate and the per-order quantity lands in the output without
    * a second scan.
    *
    * Scale: one exchange on l_orderkey for the gate aggregate; survivors
    * are rare (HAVING at the distribution tail), so the joins to orders /
    * customer run on a tiny filtered side.
    */
  def q18LargeOrders(spark: SparkSession, dir: String, minQty: Long = 300): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(round(col("l_quantity")).cast("bigint")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    big
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer").select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey").cast("bigint").as("c_custkey"),
        col("o_orderkey").cast("bigint").as("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("bigint").as("totalprice_cents"),
        col("total_qty"))
  }

  /** TPC-H Q21-shaped WAITING SUPPLIER — the EXISTS + NOT-EXISTS double
    * correlation: for finished orders, suppliers who shipped late
    * (`l_shipdate > o_orderdate + lateDays` — the fixture's receipt/commit
    * analogue) on a multi-supplier order where NO OTHER supplier was
    * late. Both correlated quantifiers decorrelate into ONE per-order
    * aggregate — `n_supp` carries the EXISTS (another supplier exists ⇔
    * n_supp ≥ 2) and `n_late` the NOT EXISTS (no other late supplier ⇔
    * n_late == 1 for a late supplier's row) — so lineitem is scanned
    * once, where the textbook plan runs two extra correlated scans.
    *
    * Scale: both aggregates key on l_orderkey (the second reuses the
    * first's partitioning); the final count keys on ~|suppliers| rows.
    */
  def q21WaitingSupplier(spark: SparkSession, dir: String, lateDays: Int = 90): DataFrame = {
    val perOrderSupp = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"), 1L)
        .otherwise(0L)).as("supp_late"))
    val perOrder = perOrderSupp.groupBy(col("l_orderkey").as("po_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("supp_late")).as("n_late"))
    perOrderSupp
      .filter(col("supp_late") === 1L)
      .join(perOrder, col("l_orderkey") === col("po_orderkey") &&
        col("n_supp") >= 2L && col("n_late") === 1L)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(t(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
  }

  /** TPC-H Q22-shaped GLOBAL SALES OPPORTUNITY — scalar-average subquery
    * + anti join: customers whose balance beats the positive-balance
    * average and who placed NO ORDER since `sinceDate` (the fixture's
    * seven-year-silence analogue — every fixture customer has SOME
    * order), grouped by market segment. The average comparison is
    * CROSS-MULTIPLIED (`bal_cents · n_pos > sum_pos_cents`) so both
    * engines compare integers — no float-average rounding hazard; the
    * NOT EXISTS is a LEFT ANTI join against the recent-orders keys.
    *
    * Scale: the average is a one-row broadcast; the anti join shuffles
    * only custkeys; the segment rollup is metadata-sized.
    */
  def q22GlobalSales(spark: SparkSession, dir: String,
      sinceDate: String = "2000-01-01"): DataFrame = {
    val cust = t(spark, dir, "customer")
      .withColumn("bal_cents", round(col("c_acctbal") * 100).cast("bigint"))
    val posAvg = cust.filter(col("bal_cents") > 0L)
      .agg(sum(col("bal_cents")).as("sum_pos"), count(lit(1)).as("n_pos"))
    val recent = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(sinceDate).cast("timestamp"))
      .select(col("o_custkey"))
    cust
      .join(broadcast(posAvg))
      .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("numcust"), sum(col("bal_cents")).as("totacctbal_cents"))
  }
}
