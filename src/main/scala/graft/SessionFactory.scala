package graft

import org.apache.spark.sql.SparkSession

/** ONE place for the session configuration the engine expects (VERDICT r17
  * #3): the r17 cached-plan re-partitioning flag lived only in the bench /
  * verify harness builders, so a user running the production CLI entries
  * (`jobs.ExportCli`, `jobs.BenchJob`) got the unoptimized cache behavior
  * the bench no longer measures. Every entry point — bench, verify, CLI
  * jobs, probes — now builds through here; per-entry settings (and any
  * deliberate divergence, e.g. a probe enabling the UI) layer on top of
  * the returned builder, since a later `.config` overrides an earlier one.
  * The CLI jobs size their session to the host through [[cli]].
  */
object SessionFactory {

  /** The engine's required session configuration over the caller's
    * master/appName/parallelism choices:
    *
    *   - `timeZone=UTC` — the DuckDB oracle compares timestamps as UTC.
    *   - `nanosAsLong=true` — legacy INT64(NANOS) parquet reads; a no-op on
    *     the µs-typed fixtures, required the day an input carries nanos.
    *   - `adaptive.enabled=true` — default since 3.2, pinned so a future
    *     default flip cannot silently change every plan in the catalog.
    *   - `canChangeCachedPlanOutputPartitioning=true` (r17 opt): the engine
    *     caches multi-consumer intermediates throughout (the eager-fill
    *     discipline); without this flag every cache read is pinned to the
    *     materialized partition count even when the frame is KBs (measured
    *     10-20× pure per-task overhead on the histogram rows: 400+ tasks →
    *     ~30). Scale-adaptive by construction — AQE coalesces by BYTES, so
    *     corpus-sized caches keep their width on a real cluster.
    */
  def builder(master: String, appName: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")

  /** The production CLI session (`jobs.ExportCli`, `jobs.BenchJob`), logging
    * at WARN: `local[N]` with N shuffle partitions, N the available
    * processors, so the session never oversubscribes its host.
    * `SPARK_MASTER` overrides the master; the shuffle width stays N.
    */
  def cli(appName: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors().toString
    val spark = builder(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"), appName, n).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
