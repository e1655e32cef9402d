package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.sources.ParquetSource

/** Structured Streaming operators over the `events` table, each with a
  * batch-equivalent twin so correctness is oracle-checkable (the streaming
  * and batch versions are asserted equal in StreamingSpec).
  *
  * Scale: the hourly aggregation is watermarked so state is bounded; the
  * sessionizer keeps one small state object per active user key and emits
  * on gap timeout — the canonical `flatMapGroupsWithState` shape.
  */
object EventStream {

  val SessionGapMinutes = 30

  /** Batch twin of the streaming hourly aggregation — this is the
    * `events_hourly_agg` oracle query (Relational.eventsHourlyAgg).
    */
  def hourlyAggBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.eventsHourlyAgg(spark, dir)

  /** Streaming hourly aggregation: watermark + tumbling window. */
  def hourlyAggStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = ParquetSource.read(spark, s"$dir/events.parquet").schema
    // layout-aware: handles both a single `events.parquet` FILE and a
    // Spark-written directory of part files (ADVICE r15; see FileStreams)
    FileStreams.streamTable(spark, dir, "events", schema)
      .transform(graft.operators.Relational.normalizeEventTs)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("bigint")).as("value_cents"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("value_cents"))
  }

  /** Batch sessionization: sessions split on gaps > 30 min per user.
    * Expressible in pure window functions, so it has a DuckDB oracle
    * (`events_sessionize`).
    */
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.Relational.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull, lit(1L))
          .when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) > SessionGapMinutes * 60L * 1000000L, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"))
  }

  /** [[sessionizeBatch]] made SKEW-SAFE by the exact two-level
    * decomposition (the hot-user guard for sessionization): pass 1
    * sessionizes within `(user_id, chunk)` time-bucket partitions, pass 2
    * merges the resulting SESSION SUMMARIES per user — a summary row is
    * one local session, so the per-user pass-2 partition holds sessions +
    * non-empty chunks, never raw events. Merging adjacent summaries when
    * `start − prev_end <= gap` reconstructs the global sessions exactly
    * (within a chunk, larger gaps already split; across chunks the
    * boundary gap is measured on the true first/last timestamps), for any
    * chunk size and any sparsity — asserted bit-equal to the plain form on
    * a planted hot user, and the catalog twin `events_sessionize_skew`
    * shares `events_sessionize`'s oracle.
    */
  def sessionizeSkewSafe(spark: SparkSession, dir: String,
      chunkUs: Long = 6L * 3600000000L): DataFrame = {
    val gapUs = SessionGapMinutes * 60L * 1000000L
    val ev = graft.operators.Relational.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("chunk", expr(s"ts_us div $chunkUs"))
    val byUC = Window.partitionBy("user_id", "chunk").orderBy("ts_us", "event_id")
    val local = ev
      .withColumn("prev_us", lag("ts_us", 1).over(byUC))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("local_seq", sum("new_s").over(
        byUC.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "chunk", "local_seq")
      .agg(
        count(lit(1)).as("n_local"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"),
        min("ts").as("start_ts"), max("ts").as("end_ts"))
    // pass 2: merge adjacent local sessions across chunk boundaries — one
    // row per LOCAL SESSION, so the hot user's window is now tiny
    val byU = Window.partitionBy("user_id").orderBy("start_us", "chunk")
    local
      .withColumn("prev_end", lag("end_us", 1).over(byU))
      .withColumn("new_g",
        when(col("prev_end").isNull || col("start_us") - col("prev_end") > gapUs, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_seq", sum("new_g").over(
        byU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        sum("n_local").as("n_events"),
        min("start_ts").as("session_start"),
        max("end_ts").as("session_end"))
  }

  /** Declarative sessionization via the NATIVE `session_window` function —
    * the Catalyst-planned alternative to the hand-rolled state machine in
    * [[sessionizeStream]] and the window-function chain in
    * [[sessionizeBatch]]. In batch, sessions are merged inside a single
    * aggregation (no window-function sort chain); in streaming the same
    * expression runs against the session-window state store with watermark
    * eviction — one query shape for both. Boundary convention (probed, and
    * pinned by the oracle): an event exactly `gap` after the previous one
    * MERGES into the session (a new session starts only when the gap is
    * strictly exceeded) and `session_end = last event + gap`.
    *
    * Scale: one shuffle on user_id, sessions merged agg-side — no
    * per-user global sort; the natural 100 TB sessionizer.
    */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$SessionGapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** [[sessionWindowAgg]] over the events table — the catalog query. */
  def sessionWindowBatch(spark: SparkSession, dir: String): DataFrame =
    sessionWindowAgg(graft.operators.Relational.events(spark, dir)
      .select(col("user_id"), col("ts")))

  /** Stream-stream interval join: each click joined to the same user's
    * purchases within 1 hour AFTER the click. Both sides watermarked so
    * Spark can bound the join state (state for a side is dropped once the
    * other side's watermark passes the interval). Works identically on
    * batch DataFrames — StreamingSpec asserts stream == batch.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    intervalJoin(clicks, purchases, "inner")

  /** Stream-stream LEFT OUTER interval join: like [[clickPurchaseJoin]]
    * but clicks with NO purchase inside the interval are still emitted
    * (null purchase columns). In streaming, the null row for an unmatched
    * click can only be produced once the purchase-side WATERMARK has
    * passed the end of the click's interval — Spark holds the click in
    * state until then, which is exactly the state-bounding the watermark
    * exists for. Batch produces the same rows immediately.
    */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    intervalJoin(clicks, purchases, "left_outer")

  /** [[clickPurchaseLeftJoin]] over the events table — the catalog twin of
    * the streaming LEFT OUTER interval join, so the outer variant's join
    * semantics (null purchase columns for clicks with no purchase in the
    * hour) are DuckDB-oracle-checked per round; the watermark-gated
    * EMISSION behavior unique to streaming stays pinned by StreamingSpec.
    */
  def intervalLeftJoinBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.Relational.events(spark, dir)
    clickPurchaseLeftJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
  }

  /** ONE definition of the click→purchase interval join (watermarks,
    * interval, projection) so the inner and outer variants cannot drift.
    */
  private def intervalJoin(clicks: DataFrame, purchases: DataFrame, joinType: String): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val p = purchases.select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    c.join(p, expr(
      "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"), joinType)
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"), col("c_ts"), col("p_ts"))
  }

  /** Stream-static enrichment join: a stream of events joined to a static
    * dimension (customer) — the most common production streaming pattern.
    * The static side is re-read per micro-batch by Spark; the join is a
    * PLAIN equi-join so the planner broadcasts only when the dim is
    * genuinely small (a hint would force a 100 TB-scale customer dim
    * driver-side every batch — the dim scales with the business, not
    * with the batch). The stream side needs no state and no watermark:
    * the join is stateless row-at-a-time enrichment. Works identically on
    * a batch events frame — StreamingSpec asserts stream == batch.
    */
  def enrichStream(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .join(customers.select(
        col("c_custkey"), col("c_mktsegment"), col("c_nationkey")),
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("c_mktsegment"), col("c_nationkey"))

  final case class Event(user_id: Long, event_id: Long, ts: Timestamp)
  final case class SessionState(start: Long, last: Long, seq: Long, n: Long)
  final case class SessionOut(
      user_id: Long, session_seq: Long, n_events: Long,
      session_start: Timestamp, session_end: Timestamp)

  final case class AttrEvent(user_id: Long, event_id: Long, ts: Timestamp, event_type: String)
  final case class ClickState(click_id: Long, click_us: Long)
  final case class AttributionOut(
      purchase_id: Long, user_id: Long, purchase_ts: Timestamp,
      click_id: Option[Long], click_ts: Option[Timestamp])

  /** STREAMING last-touch attribution — the online form of the backward
    * as-of join (`Relational.attributionLastTouch`): every purchase is
    * attributed, as it arrives, to the user's latest click at-or-before
    * it (ties on equal timestamps break by event_id, exactly the
    * non-strict backward `AsOfJoinExec` rule: a same-microsecond click
    * with a SMALLER id attributes, a larger id does not).
    *
    * State is ONE (click_id, click_us) pair per user — the latest click —
    * so memory is keys × 16 bytes regardless of event volume, and there
    * is no watermark-bounded buffer at all (contrast with the
    * stream-stream interval join, whose state holds every click in the
    * join window). No timeout: last-touch lookback is unbounded by
    * contract; a production deployment with a finite attribution window
    * would add an event-time timeout evicting stale clicks.
    *
    * Ordering contract (the [[graft.streaming.StreamDedup]] discipline):
    * rows WITHIN a trigger are sorted by (ts, event_id) before folding,
    * so any in-batch arrival order is correct; across triggers the
    * micro-batches must partition event time (a click later re-delivered
    * with an event time before an already-emitted purchase cannot
    * retro-attribute it — append mode has emitted the row).
    */
  def attributionStream(events: Dataset[AttrEvent]): Dataset[AttributionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[AttrEvent], state: GroupState[ClickState]) => {
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption
          val out = Seq.newBuilder[AttributionOut]
          sorted.foreach { e =>
            e.event_type match {
              case "click" => st = Some(ClickState(e.event_id, micros(e.ts)))
              case "purchase" =>
                out += AttributionOut(e.event_id, userId, e.ts,
                  st.map(_.click_id), st.map(s => toTs(s.click_us)))
              case _ => ()
            }
          }
          st.foreach(state.update)
          out.result().iterator
        })
  }

  private[streaming] def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** THE session state machine, shared by both stateful sessionizers
    * ([[sessionizeStream]] and [[SessionProcessor]]) so the contract can
    * never drift between APIs: folds one batch of events (sorted by
    * (ts, event_id)) into the running state, emitting a session whenever an
    * in-batch gap exceeds the threshold. Returns (new state, closed
    * sessions).
    */
  private[streaming] def foldSession(
      userId: Long, events: Iterator[Event],
      st0: SessionState): (SessionState, Seq[SessionOut]) = {
    val gapMicros = SessionGapMinutes * 60L * 1000000L
    val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    var st = st0
    val out = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      val t = micros(e.ts)
      if (st.start < 0) {
        st = SessionState(t, t, st.seq + 1, 1L)
      } else if (t - st.last > gapMicros) {
        out += SessionOut(userId, st.seq, st.n, toTs(st.start), toTs(st.last))
        st = SessionState(t, t, st.seq + 1, 1L)
      } else {
        st = st.copy(last = t, n = st.n + 1)
      }
    }
    (st, out.result())
  }
  private[streaming] def toTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000L) * 1000L).toInt) // keep full µs precision
    t
  }

  /** Sessionization on `transformWithState` — Spark 4's production
    * stateful-processing API (RocksDB-backed typed `ValueState` + explicit
    * event-time TIMERS, replacing `flatMapGroupsWithState`'s single
    * per-key timeout). Identical output contract to [[sessionizeStream]]:
    * sessions emitted on in-batch gap or when the watermark passes
    * last+gap, seq counters retained across closed sessions. Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    *
    * Scale: state is one small row per ACTIVE user in a native RocksDB
    * instance per partition (no JVM-heap state map, incremental
    * checkpointing via changelog), exactly one live timer per key — the
    * shape that holds at hundreds of millions of concurrent sessions.
    */
  def sessionizeTws(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming sessionization with explicit state: one `SessionState` per
    * user, a session emitted when the 30-min gap elapses within a batch OR
    * when the EVENT-TIME TIMEOUT fires (the watermark passed last+gap), so
    * final sessions are not held in state forever — the production
    * `flatMapGroupsWithState` shape. Same output contract as
    * [[sessionizeBatch]].
    *
    * On a batch Dataset, Spark runs the function once per key with no
    * timeouts — open sessions stay in state (asserted in StreamingSpec).
    */
  def sessionizeStream(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = SessionGapMinutes * 60L * 1000000L

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // Watermark passed last+gap: the open session is closed for good.
            // Keep the seq counter (start = -1 sentinel, no open session) so
            // the user's NEXT session continues numbering — removing state
            // here would restart at seq=1 and duplicate (user_id, session_seq)
            // keys vs the sessionizeBatch/oracle contract.
            val st = state.get
            state.update(SessionState(-1L, -1L, st.seq, 0L))
            Iterator.single(SessionOut(userId, st.seq, st.n, toTs(st.start), toTs(st.last)))
          } else {
            // Rows within one trigger arrive unordered; foldSession sorts.
            val (st, out) = foldSession(userId, rows,
              state.getOption.getOrElse(SessionState(-1L, -1L, 0L, 0L)))
            state.update(st)
            // close the session once event time moves past last + gap
            if (st.start >= 0) state.setTimeoutTimestamp((st.last + gapMicros) / 1000L + 1L)
            out.iterator
          }
        })
  }
}

/** The [[EventStream.sessionizeTws]] state machine: same transitions as the
  * `flatMapGroupsWithState` sessionizer, expressed against typed
  * `ValueState` + explicit timers. One live timer per key — re-armed at
  * last+gap on every batch, stale timers deleted (an expired stale timer
  * would close a session that newer events had extended).
  */
class SessionProcessor
    extends StatefulProcessor[Long, EventStream.Event, EventStream.SessionOut] {
  import EventStream.{toTs, Event, SessionOut, SessionState}

  @transient private var state: ValueState[SessionState] = _
  private val gapMicros = EventStream.SessionGapMinutes * 60L * 1000000L

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[SessionState]("session",
      org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

  override def handleInputRows(userId: Long, rows: Iterator[Event],
      timerValues: TimerValues): Iterator[SessionOut] = {
    val (st, out) = EventStream.foldSession(userId, rows,
      if (state.exists()) state.get() else SessionState(-1L, -1L, 0L, 0L))
    state.update(st)
    if (st.start >= 0) {
      getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
      getHandle.registerTimer((st.last + gapMicros) / 1000L + 1L)
    }
    out.iterator
  }

  override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
    val st = if (state.exists()) state.get() else null
    if (st != null && st.start >= 0) {
      // keep the seq counter (start = -1 sentinel) so the user's next
      // session continues numbering — the sessionizeStream contract
      state.update(SessionState(-1L, -1L, st.seq, 0L))
      Iterator.single(SessionOut(userId, st.seq, st.n, toTs(st.start), toTs(st.last)))
    } else Iterator.empty
  }
}
