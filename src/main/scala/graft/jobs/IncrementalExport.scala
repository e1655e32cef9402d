package graft.jobs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.types._

import graft.args.AvroSinkArgs
import graft.schema.AvroSchemaGen
import graft.sink.AvroSink
import graft.sources.ParquetSource

/** INCREMENTAL (high-watermark) export — the nightly-delta mode every
  * production export deployment of the reference ends up scripting by
  * hand: each run exports only rows whose watermark column is STRICTLY
  * ABOVE the previous run's maximum, then persists the new maximum.
  *
  * State contract (`<stateDir>/_HIGH_WATERMARK`, two `k=v` lines):
  *   - written ONLY after a fully successful export, so a failed run
  *     re-exports the same delta on retry (at-least-once at run
  *     granularity — the per-run output dir makes retries idempotent for
  *     downstream consumers that read the latest complete dir);
  *   - strictly-greater-than filtering makes consecutive SUCCESSFUL runs
  *     non-overlapping and their union exactly the full table, provided
  *     the watermark column is append-monotone (the same contract every
  *     watermark-based CDC export assumes — late rows BELOW the watermark
  *     are the operator's responsibility, as in the reference's
  *     partition-based incrementality);
  *   - an empty delta leaves the previous watermark in place (never
  *     regresses, never writes null).
  *
  * Scale: the watermark filter is a plain Catalyst predicate — it reaches
  * the parquet scan as a pushed filter, so a run over a 100 TB table
  * reads only row groups whose stats overlap the delta; the new-max
  * aggregate is a map-combined 1-row agg over the already-filtered frame
  * with only the watermark column read.
  *
  * Supported watermark types: integral, timestamp, date, string (the
  * orderable types a JDBC splitColumn may take).
  */
object IncrementalExport {

  final case class State(column: String, maxLiteral: String)

  private def stateFile(stateDir: String) = new Path(s"$stateDir/_HIGH_WATERMARK")

  def readState(conf: Configuration, stateDir: String): Option[State] = {
    val p = stateFile(stateDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val kv = text.linesIterator.flatMap { l =>
      l.split("=", 2) match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
    }.toMap
    for (c <- kv.get("column"); m <- kv.get("max")) yield State(c, m)
  }

  def writeState(conf: Configuration, stateDir: String, state: State): Unit =
    AvroSink.writeSideFile(conf, stateFile(stateDir).toString,
      s"column=${state.column}\nmax=${state.maxLiteral}\n")

  /** Formats a collected max() value as a string literal that
    * `CAST('<literal>' AS <dtype>)` parses back to the same value.
    */
  private[jobs] def literalOf(v: Any): String = v match {
    case t: java.sql.Timestamp => t.toInstant.toString // ISO-8601 UTC
    case d: java.sql.Date => d.toString
    case other => other.toString
  }

  def run(
      spark: SparkSession,
      input: String,
      outputDir: String,
      stateDir: String,
      column: String,
      sinkArgs: AvroSinkArgs = AvroSinkArgs(),
      schemaCfg: AvroSchemaGen.Config = AvroSchemaGen.Config(),
      minRows: Long = -1,
      dataOnly: Boolean = false): ExportJob.Result = {

    val base = ParquetSource.read(spark, input)
    val field = base.schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"incremental column $column not in schema ${base.schema.fieldNames.mkString(",")}"))
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType
           | TimestampType | DateType | StringType => ()
      case other => throw new IllegalArgumentException(
        s"incremental column $column has unsupported type ${other.sql}")
    }

    val conf = spark.sparkContext.hadoopConfiguration
    val prev = readState(conf, stateDir)
    prev.foreach(s => require(s.column == column,
      s"stateDir tracks column ${s.column}, not $column — refusing to mix watermarks"))

    val unbounded = prev match {
      case Some(s) => base.filter(col(column) > lit(s.maxLiteral).cast(field.dataType))
      case None => base
    }

    // The watermark bound is fixed BEFORE the export and the export is
    // clipped to it (`prev < col <= newMax`). Computing the new max from a
    // second scan AFTER the export — the obvious ordering — loses data on
    // a live table: rows appended between the export's scan and the max
    // scan raise the watermark past rows the export never saw, and the
    // next run's strict `>` filter skips them forever. With the bound
    // fixed first, anything appended later is > newMax by the
    // append-monotone contract and belongs to the next run. (Ties ON the
    // bound appended after the export scan remain the standard strict-`>`
    // watermark caveat; a strictly-increasing column is exactly-once.)
    // NULLs are unorderable: `col > prev` and `col <= max` are both
    // NULL-false, so a NULL-watermark row would be silently excluded from
    // every run forever — refuse loudly instead of losing data (the same
    // contract a JDBC splitColumn carries in the reference: split
    // predicates assume a non-null orderable column). The audit MUST run
    // on `base`, not the delta: once prev state exists the delta is
    // already `col > prev`-filtered, which drops NULL rows before any
    // count could see them (NULL-false), making a delta-side audit
    // vacuous on every run after the first. The IsNull predicate pushes
    // to the parquet scan, so on a clean table this probe is row-group
    // stats only (null_count == 0 skips the group) — near-free at scale.
    require(base.filter(col(column).isNull).isEmpty,
      s"watermark column $column has NULL value(s) — " +
        "NULLs are unorderable and would be silently skipped by every run; " +
        "clean them or pick a non-null watermark column")
    val newMax = unbounded.agg(max(col(column))).head().get(0)
    val (delta, next) = Option(newMax) match {
      case Some(v) =>
        val litMax = literalOf(v)
        (unbounded.filter(col(column) <= lit(litMax).cast(field.dataType)),
          Some(State(column, litMax)))
      case None =>
        // No rows in the delta (null max + zero-NULL audit above ⇒ the
        // frame is empty). Export an EXPLICITLY empty frame so the data
        // matches the `WHERE 1=0` sidecar — `unbounded` itself is only
        // provably empty when prev exists; on a first run over an empty
        // table it is the whole (empty) base, and filtering keeps the two
        // cases uniform. Watermark unchanged (never regresses, never null).
        (unbounded.filter(lit(false)), prev)
    }

    val describe = (prev, next) match {
      case (Some(s), Some(n)) =>
        s"SELECT * FROM ${schemaCfg.tableName} WHERE $column > '${s.maxLiteral}' AND $column <= '${n.maxLiteral}'"
      case (None, Some(n)) =>
        s"SELECT * FROM ${schemaCfg.tableName} WHERE $column <= '${n.maxLiteral}'"
      case _ => s"SELECT * FROM ${schemaCfg.tableName} WHERE 1=0"
    }

    val result = ExportJob.run(spark, delta, outputDir,
      sinkArgs = sinkArgs, schemaCfg = schemaCfg,
      queries = Seq(describe), minRows = minRows, dataOnly = dataOnly)

    // State written ONLY after a fully successful export (the planned
    // bound, not a post-hoc scan); an empty delta keeps the previous
    // watermark (never regresses, never writes null).
    next.foreach(writeState(conf, stateDir, _))
    result
  }
}
