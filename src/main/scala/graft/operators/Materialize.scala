package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD

/** The one lifetime of an operator's intermediates. A scope caches, fills
  * and checkpoints through `m`, and on exit releases everything it holds,
  * in a `finally`, so an operator that throws leaves nothing persisted:
  *
  * {{{
  * Materialize { m =>
  *   val a = m.fill(arrays)          // cached and filled now
  *   ...
  *   out                             // materialized, then `a` is released
  * }
  * }}}
  *
  * [[apply]] materializes the block's result before it releases: an eager
  * `localCheckpoint`, one job that cuts the result's lineage. Three results
  * are returned as they are: one already on the driver (a `LocalRelation`,
  * or a projection of one), which a collect reads with no job; one that a
  * nested scope in this block already materialized; and any result while
  * [[inspect]]ing. A scope opened inside another hands its materialized
  * result to the enclosing scope, which releases it on its own exit.
  * [[releasing]] is the scope for a block whose value is not a frame over
  * what it holds (a write, a collected array, a count).
  *
  * Why `localCheckpoint` and not `cache` or `checkpoint`: a checkpointed
  * result's plan is one `Scan ExistingRDD`, so every consumer (and the
  * committed `bench/PLAN_SNAPSHOTS.txt`) sees the result, not the pipeline
  * behind it, and no checkpoint directory is written. A cached result
  * would keep its whole lineage in every consumer's plan. The cost is that
  * a lost block cannot be recomputed: after an executor loss a job that
  * reads it fails (VERDICT r18 #4). Under `local[N]` the driver is the only
  * executor, so losing it ends the job anyway, and the caveat is moot.
  *
  * Plan inspection is a thread-local mode ([[inspect]]): caches, fills and
  * checkpoints are no-ops and the result comes back unexecuted, so a spec
  * can read the plan an operator builds without running it.
  */
final class Materialize private () {
  private val caches = mutable.ArrayBuffer.empty[DataFrame]
  private val checkpoints = mutable.LinkedHashSet.empty[RDD[_]]

  /** True inside [[Materialize.inspect]]. */
  def inspecting: Boolean = Materialize.inspecting

  /** `df` cached, filled by its first action, released on exit. */
  def cache(df: DataFrame): DataFrame =
    if (inspecting) df else { caches += df.cache(); df }

  /** `df` cached and filled now, by one count. AQE submits a plan's
    * independent stages together, so a cache that several of them read
    * must be filled first, or each of them recomputes it. */
  def fill(df: DataFrame): DataFrame = {
    cache(df)
    if (!inspecting) df.count()
    df
  }

  /** An eager local checkpoint of `df` (one job), released on exit. */
  def checkpoint(df: DataFrame): DataFrame =
    if (inspecting) df else hold(df.localCheckpoint(true))

  private def hold(cp: DataFrame): DataFrame = {
    cp.queryExecution.logical match {
      case r: LogicalRDD => checkpoints += r.rdd
      case _ =>
    }
    cp
  }

  private def release(): Unit = {
    caches.foreach(_.unpersist(false))
    checkpoints.foreach(_.unpersist(false))
  }
}

object Materialize {
  private val open = new ThreadLocal[Materialize]
  private val inspectMode = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** True while this thread runs inside [[inspect]]. */
  def inspecting: Boolean = inspectMode.get

  /** Runs `body` with every scope in plan-inspection mode. */
  def inspect[T](body: => T): T = {
    val was = inspectMode.get
    inspectMode.set(true)
    try body finally inspectMode.set(was)
  }

  /** Runs `body` in a scope and returns its materialized result. */
  def apply(body: Materialize => DataFrame): DataFrame = {
    val outer = open.get
    val (out, made) = releasing { m =>
      val df = body(m)
      df.queryExecution.logical match {
        case _ if inspecting => (df, false)
        case _ if driverLocal(df.queryExecution.analyzed) => (df, false)
        case r: LogicalRDD if m.checkpoints.remove(r.rdd) => (df, true)
        case _ => (df.localCheckpoint(true), true)
      }
    }
    if (made && outer != null) outer.hold(out)
    out
  }

  /** Runs `body` in a scope and returns its value as it is. The value must
    * not be a lazy frame over what the scope holds. */
  def releasing[T](body: Materialize => T): T = {
    val outer = open.get
    val m = new Materialize
    open.set(m)
    try body(m) finally {
      open.set(outer)
      m.release()
    }
  }

  private def driverLocal(p: LogicalPlan): Boolean = p match {
    case _: LocalRelation => true
    case Project(_, child) => driverLocal(child)
    case _ => false
  }
}
