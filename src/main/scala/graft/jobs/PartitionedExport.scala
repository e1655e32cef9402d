package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.args.AvroSinkArgs
import graft.schema.AvroSchemaGen
import graft.sink.AvroSink

/** Hive-layout PARTITIONED export — one Avro sub-export per distinct value
  * of a LOW-CARDINALITY partition column, written as
  * `output/<column>=<value>/part-*.avro` (+ the full per-export side-output
  * contract inside each), plus a top-level `_PARTITIONS.json` manifest
  * (value → recordCount) whose total equals the flat export's.
  *
  * Semantics and limits (deliberate — this is the daily/by-category export
  * shape, not a general repartitioner):
  *   - the column's distinct values are collected and bounded by
  *     `maxPartitions` (default 64; exceeding it is an
  *     IllegalArgumentException → exit 43). Values are sanitized into
  *     directory names with the Avro-name rule (non-alphanumerics → `_`);
  *     a COLLISION after sanitization is refused rather than silently
  *     merged. Null values export under `<column>=__HIVE_DEFAULT_PARTITION__`.
  *   - one pruned scan per value: the equality predicate is pushed to the
  *     parquet scan (PlanSpec-style `PushedFilters`), so on sources
  *     clustered/partitioned by the column each sub-export reads only its
  *     slice — the layout where this mode is the right tool. On an
  *     unclustered source it degrades to V scans, which the bounded V
  *     keeps honest.
  *   - each sub-export goes through [[ExportJob.run]] unchanged, so the
  *     per-directory contract (schema sidecar, metrics, manifest, minRows
  *     gate) is the single-export contract verbatim.
  */
object PartitionedExport {

  final case class Result(
      partitions: Seq[(String, AvroSink.Metrics)],
      outputDir: String) {
    def totalRecords: Long = partitions.map(_._2.recordCount).sum
  }

  def sanitize(value: String): String =
    value.map(c => if (c.isLetterOrDigit) c else '_')

  val NullDir = "__HIVE_DEFAULT_PARTITION__"

  def run(
      spark: SparkSession,
      df: DataFrame,
      outputDir: String,
      partitionBy: String,
      sinkArgs: AvroSinkArgs = AvroSinkArgs(),
      schemaCfg: AvroSchemaGen.Config = AvroSchemaGen.Config(),
      minRows: Long = -1,
      dataOnly: Boolean = false,
      maxPartitions: Int = 64): Result = {

    require(df.schema.fieldNames.contains(partitionBy),
      s"partition column $partitionBy not in ${df.schema.fieldNames.mkString(",")}")
    // LIMIT maxPartitions+1 bounds the collect BEFORE the cardinality
    // check: pointing this mode at a high-cardinality column must fail
    // with the friendly exit-43 message, not exhaust the driver
    // collecting millions of distinct values first.
    val values = df.select(partitionBy).distinct().limit(maxPartitions + 1).collect()
      .map(r => Option(r.get(0)).map(_.toString))
    if (values.length > maxPartitions)
      throw new IllegalArgumentException(
        s"--partitionOutputBy=$partitionBy has more than $maxPartitions distinct values " +
          "— partitioned export is for low-cardinality columns")
    val dirs = values.map(v => v -> v.map(sanitize).getOrElse(NullDir))
    val collisions = dirs.groupBy(_._2).filter(_._2.length > 1)
    if (collisions.nonEmpty)
      throw new IllegalArgumentException(
        s"partition values collide after sanitization: ${collisions.keys.mkString(",")}")

    val results = dirs.sortBy(_._2).map { case (value, dirName) =>
      val slice = value match {
        case Some(v) => df.filter(col(partitionBy) === v)
        case None => df.filter(col(partitionBy).isNull)
      }
      val res = ExportJob.run(
        spark, slice, s"$outputDir/$partitionBy=$dirName",
        sinkArgs = sinkArgs, schemaCfg = schemaCfg,
        queries = Seq(s"-- partition slice: $partitionBy = ${value.getOrElse("NULL")}"),
        minRows = minRows, dataOnly = dataOnly)
      dirName -> res.metrics
    }

    if (!dataOnly) {
      val manifest = results
        .map { case (d, m) => s""""$d":${m.recordCount}""" }
        .mkString("{", ",", "}")
      AvroSink.writeSideFile(spark.sparkContext.hadoopConfiguration,
        s"$outputDir/_PARTITIONS.json", manifest)
    }
    Result(results, outputDir)
  }
}
